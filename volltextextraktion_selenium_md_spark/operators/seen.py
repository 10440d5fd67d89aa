"""URL-seen set: one exact anti-join.

The reference has NO global seen set — re-POSTing a URL refetches it;
dedup exists only per-page (``app/utils.py:48-55``). The north rule
adds the global set. Design:

- `seen` state = DataFrame (url), kept as a BASE plus per-round deltas
  and persisted across rounds; the engine compacts the deltas into the
  base on a cadence.
- `filter_unseen_parts` = ONE left_anti join on `url` against the
  union of the base and the deltas — exact. The engine hints a
  broadcast while the seen set is small and leaves a large one to the
  planner.
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
    """Exact unseen filter against a seen set maintained as BASE + DELTAS:
    the parts' urls are unioned behind ONE left-anti join, broadcast
    when ``broadcast_base``. A url is unseen iff it is in no part.
    ``bloom`` is the retired Bloom prefilter's slot and must be None:
    perfbench's tracer wraps this function and passes its four
    arguments positionally. The slot goes when the engine's own spans
    replace the tracer's patch table (ROADMAP item 4)."""
    if bloom is not None:
        raise ValueError("the Bloom prefilter is retired: pass bloom=None")
    # a checkpoint (every seen part is one) carries no size stats, so
    # without the hint the planner assumes the worst case and plans a
    # two-sided sort-merge — several extra AQE stages of pure driver
    # latency at small-round volume. One union behind one build: each
    # extra broadcast build is a separate AQE job (r7).
    allseen = seen_parts[0].select("url")
    for part in seen_parts[1:]:
        allseen = allseen.unionByName(part.select("url"))
    if broadcast_base:
        allseen = F.broadcast(allseen)
    return candidates.join(allseen, on="url", how="left_anti")
