"""URL-seen set: one exact anti-join.

The reference has NO global seen set — re-POSTing a URL refetches it;
dedup exists only per-page (``app/utils.py:48-55``). The north rule
adds the global set. Design:

- `seen` state = DataFrame (url), kept as a BASE plus per-round deltas
  and persisted across rounds; the engine compacts the deltas into the
  base on a cadence.
- `filter_unseen_parts` = left_anti join on `url` against the base and
  the deltas — exact. A small base is broadcast; a large one keeps its
  hash(url) partitioning and sort, so the join moves no base rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_unseen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact unseen filter against one seen relation (a one-part
    `filter_unseen_parts`)."""
    return filter_unseen_parts(candidates, [seen])


def filter_unseen_parts(
    candidates: DataFrame,
    seen_parts: list[DataFrame],
    bloom: None = None,
    broadcast_base: bool = False,
) -> DataFrame:
    """Exact unseen filter against a seen set maintained as BASE + DELTAS
    (round-4 rounds-phase fix). ``bloom`` is the retired Bloom
    prefilter's slot and must be None: perfbench's tracer wraps this
    function and passes its four arguments positionally. The slot goes
    when the engine's own spans replace the tracer's patch table
    (ROADMAP item 4). The engine keeps the compacted base
    hash-partitioned AND sorted on url (partitioning captured through
    `localCheckpoint`), so the base-side
    anti-join needs NO exchange and NO sort — the per-round shuffle
    volume is O(candidates + recent deltas), never O(total seen).
    Deltas (≤ compact-interval of them) anti-join in sequence; each is
    round-sized, so AQE broadcasts them. Semantics are identical to the
    union form: a url is unseen iff it is in no part."""
    if bloom is not None:
        raise ValueError("the Bloom prefilter is retired: pass bloom=None")
    # exactly TWO joins regardless of delta count: base (exchange-free,
    # pre-sorted) + one union of the small deltas (one broadcast build,
    # not one per delta — the chain form paid a growing number of
    # per-round broadcast jobs). Below the volume threshold the engine
    # keeps the base as a PLAIN checkpoint and asks for an explicit
    # broadcast here: a LogicalRDD carries no size stats, so without
    # the hint the planner assumes worst case and plans a two-sided
    # sort-merge — several extra AQE stages of pure driver latency at
    # small-round volume. In THAT broadcast regime base and deltas are
    # all sub-threshold plain checkpoints, so they collapse into ONE
    # union behind ONE broadcast build + ONE anti-join (r7: each extra
    # broadcast build is a separate AQE job — pure per-round driver
    # latency at small-round volume); the partitioned-base regime keeps
    # the two-join shape so the exchange-free base side is preserved.
    if broadcast_base:
        allseen = seen_parts[0].select("url")
        for part in seen_parts[1:]:
            allseen = allseen.unionByName(part.select("url"))
        return candidates.join(F.broadcast(allseen), on="url", how="left_anti")
    unseen = candidates.join(
        seen_parts[0].select("url"), on="url", how="left_anti"
    )
    if len(seen_parts) > 1:
        deltas = seen_parts[1].select("url")
        for part in seen_parts[2:]:
            deltas = deltas.unionByName(part.select("url"))
        unseen = unseen.join(deltas, on="url", how="left_anti")
    return unseen
