"""URL-seen set: exact anti-join correctness path + filter fast path.

The reference has NO global seen set — re-POSTing a URL refetches it;
dedup exists only per-page (``app/utils.py:48-55``). The north rule
adds the global set. Design:

- `seen` state = DataFrame (url, h1, h2), hash-partitioned by h1 and
  persisted across rounds; h1/h2 are xxhash64 with two seeds, computed
  JVM-side.
- `filter_unseen_parts` = left_anti join on `url` against a BASE plus
  per-round deltas — exact, and the base side keeps its hash(url)
  partitioning so the join moves no base rows.
- optional prefilter (`SeenSet`): per-shard numpy blooms, shard id =
  pmod(h1, n_shards), built DISTRIBUTEDLY (per-task partial bitsets in
  a `mapInPandas` pass, OR-merged per shard on the driver) and applied
  in `mapInPandas`; it routes definitely-new candidates around the
  anti-join. A task consults only its rows' shards, so no single
  12 GiB bitset is ever broadcast at 10^10 URLs. The shard blob
  serializes into the snapshot store (`seen_shards`).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.functions.urls import url_hash, url_hash2
from volltextextraktion_selenium_md_spark.operators.filters import BloomFilter


def with_hashes(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("h1", url_hash(url_col)).withColumn("h2", url_hash2(url_col))


class SeenSet:
    """Sharded seen-set filter state for the 10^10-URL design point.

    One monolithic 1%-fp bloom over 10^10 keys is ~12 GiB — too big to
    broadcast. Here the filter is SHARDED: shard id = pmod(h1, n_shards),
    each shard owns an independent bloom over its keys only, and
    candidates are routed by the same partitioner, so a task consults
    exactly one shard (~total/n_shards bytes). In the sandbox the shard
    blobs travel in one broadcast dict; on a cluster they live as
    checkpoint blobs and each executor fetches only the shards its
    partitions own — the routing math below is identical either way.
    """

    def __init__(self, shards: dict[int, BloomFilter], n_shards: int):
        self.shards = shards
        self.n_shards = n_shards

    @classmethod
    def _shard_partials(
        cls, df: DataFrame, proto: BloomFilter, n_shards: int
    ) -> dict[int, BloomFilter]:
        """Per-(task, shard) partial blooms via mapInPandas: each task
        builds bitsets only for the shards of the rows it streams
        through — no task ever materializes a full shard's keys (at the
        10^10 design point a whole shard is tens of GiB of keys; an
        Arrow batch is ~10^4 rows). The driver ORs partials per shard:
        collect size = O(n_partials × shard_bytes), never O(keys)."""
        import numpy as np

        m, k, nbits = proto.m, proto.k, len(proto.bits)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            local: dict[int, BloomFilter] = {}
            for pdf in batches:
                h1 = pdf["h1"].to_numpy()
                h2 = pdf["h2"].to_numpy()
                sid = (np.mod(h1, n_shards) + n_shards) % n_shards
                for s in np.unique(sid):
                    bf = local.get(int(s))
                    if bf is None:
                        bf = BloomFilter.__new__(BloomFilter)
                        bf.m, bf.k = m, k
                        bf.bits = np.zeros(nbits, dtype=np.uint64)
                        local[int(s)] = bf
                    mask = sid == s
                    bf.add(h1[mask], h2[mask])
            for s, bf in local.items():
                yield pd.DataFrame({"shard": [s], "blob": [bf.to_bytes()]})

        # route rows to their shard first so most tasks emit ONE partial
        rows = (
            df.select("h1", "h2")
            .repartition(max(n_shards, 1), F.pmod(F.col("h1"), F.lit(n_shards)))
            .mapInPandas(partials, schema="shard int, blob binary")
            .collect()
        )
        out: dict[int, BloomFilter] = {}
        for r in rows:
            bf = BloomFilter.from_bytes(bytes(r["blob"]))
            cur = out.get(r["shard"])
            out[r["shard"]] = bf if cur is None else cur.union(bf)
        return out

    @classmethod
    def build(
        cls, seen: DataFrame, n_items: int, n_shards: int, fp_rate: float = 0.01
    ) -> "SeenSet":
        """Distributed sharded build; the driver receives only
        (shard_id, bitset) pairs."""
        per_shard = max(n_items // n_shards, 64)
        probe = BloomFilter(per_shard, fp_rate)  # fixes (m, k) per shard
        return cls(cls._shard_partials(seen, probe, n_shards), n_shards)

    @property
    def capacity(self) -> int:
        """Approximate total n_items the shard set was sized for
        (per-shard m·ln2/k × n_shards — all shards share one (m, k)).
        Drives the engine's fold-vs-resize decision; an over-full
        filter only raises the fp rate (rows still hit the exact join),
        never misses a seen key."""
        if not self.shards:
            return 0
        proto = next(iter(self.shards.values()))
        return max(1, int(proto.capacity)) * self.n_shards

    def fold_delta_df(self, delta: DataFrame) -> None:
        """Fold a round's (h1, h2) delta in WITHOUT collecting keys to
        the driver: per-shard partial blooms built executor-side, then
        OR-merged into the existing shard bitsets."""
        proto = next(iter(self.shards.values()))
        for s, bf in self._shard_partials(delta, proto, self.n_shards).items():
            cur = self.shards.get(s)
            self.shards[s] = bf if cur is None else cur.union(bf)

    # -- (de)serialization: shard blobs live alongside the snapshot ----
    def to_bytes(self) -> bytes:
        import struct

        parts = [struct.pack("<qq", self.n_shards, len(self.shards))]
        for s in sorted(self.shards):
            blob = self.shards[s].to_bytes()
            parts.append(struct.pack("<qq", s, len(blob)))
            parts.append(blob)
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, raw: bytes) -> "SeenSet":
        import struct

        n_shards, n = struct.unpack_from("<qq", raw, 0)
        off = 16
        shards = {}
        for _ in range(n):
            s, blen = struct.unpack_from("<qq", raw, off)
            off += 16
            shards[int(s)] = BloomFilter.from_bytes(raw[off:off + blen])
            off += blen
        return cls(shards, int(n_shards))

    def partitioned_prefilter(
        self, candidates: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Split candidates into (definitely_new, maybe_seen), each task
        consulting only the shard(s) its rows route to. Rows are
        repartitioned on the shard id first, so after the split the
        data is already partitioned the way the exact anti-join wants
        its build side."""
        spark = candidates.sparkSession
        b = spark.sparkContext.broadcast(
            {s: bf.to_bytes() for s, bf in self.shards.items()}
        )
        n_shards = self.n_shards
        cols = candidates.columns

        def mark(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import numpy as np

            local: dict[int, BloomFilter] = {}  # shards this task touched
            for pdf in batches:
                h1 = pdf["h1"].to_numpy()
                shard_ids = (np.mod(h1, n_shards) + n_shards) % n_shards
                hit = np.zeros(len(pdf), dtype=bool)
                for s in np.unique(shard_ids):
                    bf = local.get(int(s))
                    if bf is None:
                        blob = b.value.get(int(s))
                        if blob is None:
                            continue  # empty shard -> nothing seen
                        bf = local.setdefault(int(s), BloomFilter.from_bytes(blob))
                    mask = shard_ids == s
                    hit[mask] = bf.contains(h1[mask], pdf["h2"].to_numpy()[mask])
                out = pdf.copy()
                out["maybe_seen"] = hit
                yield out

        import pyspark.sql.types as T

        schema = T.StructType(
            list(candidates.schema.fields)
            + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        marked = candidates.repartition(
            max(self.n_shards, 1), F.pmod(F.col("h1"), F.lit(n_shards))
        ).mapInPandas(mark, schema=schema)
        return (
            marked.filter(~F.col("maybe_seen")).select(*cols),
            marked.filter(F.col("maybe_seen")).select(*cols),
        )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    filt: SeenSet | None = None,
) -> DataFrame:
    """Exact unseen filter against one seen relation (a one-part
    `filter_unseen_parts`)."""
    return filter_unseen_parts(candidates, [seen], filt)


def filter_unseen_parts(
    candidates: DataFrame,
    seen_parts: list[DataFrame],
    bloom: SeenSet | None = None,
    broadcast_base: bool = False,
) -> DataFrame:
    """Exact unseen filter against a seen set maintained as BASE + DELTAS
    (round-4 rounds-phase fix). ``bloom`` only reroutes definitely-new
    rows around the joins (false negatives impossible, so no unseen row
    is ever dropped; false positives just take the join path). The
    engine keeps the compacted base hash-partitioned AND sorted on url
    (partitioning captured through `localCheckpoint`), so the base-side
    anti-join needs NO exchange and NO sort — the per-round shuffle
    volume is O(candidates + recent deltas), never O(total seen).
    Deltas (≤ compact-interval of them) anti-join in sequence; each is
    round-sized, so AQE broadcasts them. Semantics are identical to the
    union form: a url is unseen iff it is in no part."""
    if bloom is None:
        maybe_seen = candidates
        definitely_new = None
    else:
        definitely_new, maybe_seen = bloom.partitioned_prefilter(candidates)
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
        maybe_seen = maybe_seen.join(
            F.broadcast(allseen), on="url", how="left_anti"
        )
    else:
        maybe_seen = maybe_seen.join(
            seen_parts[0].select("url"), on="url", how="left_anti"
        )
        if len(seen_parts) > 1:
            deltas = seen_parts[1].select("url")
            for part in seen_parts[2:]:
                deltas = deltas.unionByName(part.select("url"))
            maybe_seen = maybe_seen.join(deltas, on="url", how="left_anti")
    if definitely_new is None:
        return maybe_seen
    return definitely_new.unionByName(maybe_seen)
