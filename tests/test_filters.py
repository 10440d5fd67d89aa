"""Bloom filter and sharded SeenSet unit tests."""

from __future__ import annotations

import numpy as np

from volltextextraktion_selenium_md_spark.operators.filters import BloomFilter


def _keys(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_bloom_no_false_negatives():
    h1, h2 = _keys(5000, 1), _keys(5000, 2)
    bf = BloomFilter(5000, 0.01)
    bf.add(h1, h2)
    assert bf.contains(h1, h2).all()


def test_bloom_fp_rate_reasonable():
    h1, h2 = _keys(5000, 1), _keys(5000, 2)
    bf = BloomFilter(5000, 0.01)
    bf.add(h1, h2)
    o1, o2 = _keys(20000, 3), _keys(20000, 4)
    fp = bf.contains(o1, o2).mean()
    assert fp < 0.05


def test_bloom_roundtrip_and_union():
    a1, a2 = _keys(100, 1), _keys(100, 2)
    b1, b2 = _keys(100, 3), _keys(100, 4)
    bf_a = BloomFilter(1000)
    bf_a.add(a1, a2)
    bf_b = BloomFilter(1000)
    bf_b.add(b1, b2)
    merged = BloomFilter.from_bytes(bf_a.union(bf_b).to_bytes())
    assert merged.contains(a1, a2).all()
    assert merged.contains(b1, b2).all()


def test_seenset_delta_fold_executor_side(spark):
    """SeenSet.fold_delta_df: after the fold, every base+delta key is
    maybe_seen (no false negatives through the shard routing)."""
    from pyspark.sql import functions as F

    from volltextextraktion_selenium_md_spark.operators import seen as seen_ops

    base = seen_ops.with_hashes(
        spark.range(0, 900).select(
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("url"))
    )
    delta = seen_ops.with_hashes(
        spark.range(900, 1400).select(
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("url"))
    )
    ss = seen_ops.SeenSet.build(base, n_items=2800, n_shards=8)
    ss.fold_delta_df(delta)
    new, maybe = ss.partitioned_prefilter(base.unionByName(delta))
    assert new.count() == 0
    assert maybe.count() == 1400


def test_sharded_seenset_prefilter_8_shards(spark):
    """SeenSet.partitioned_prefilter at 8 shards: no seen row may land
    in definitely_new (no false negatives across the shard routing);
    definitely_new + maybe_seen partitions the candidates."""
    from pyspark.sql import functions as F

    from volltextextraktion_selenium_md_spark.operators import seen as seen_ops

    seen = spark.range(0, 3000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url")
    )
    seen = seen_ops.with_hashes(seen)
    cand_seen = seen.limit(1200)                       # all previously seen
    cand_new = seen_ops.with_hashes(
        spark.range(100000, 101500).select(
            F.concat(F.lit("https://new.example.com/p/"),
                     F.col("id").cast("string")).alias("url"))
    )
    cands = cand_seen.unionByName(cand_new)

    ss = seen_ops.SeenSet.build(seen, n_items=3000, n_shards=8)
    # 3000 hashed keys land in every one of the 8 shards
    assert sorted(ss.shards) == list(range(8))
    new, maybe = ss.partitioned_prefilter(cands)
    new_urls = {r["url"] for r in new.collect()}
    maybe_urls = {r["url"] for r in maybe.collect()}
    seen_urls = {r["url"] for r in cand_seen.collect()}
    assert not (new_urls & seen_urls)                  # no false negatives
    assert new_urls | maybe_urls == {r["url"] for r in cands.collect()}
    assert not (new_urls & maybe_urls)
    # serialization round trip preserves membership answers
    rt = seen_ops.SeenSet.from_bytes(ss.to_bytes())
    new2, _ = rt.partitioned_prefilter(cands)
    assert {r["url"] for r in new2.collect()} == new_urls


def test_sharded_seenset_filter_unseen_exact(spark):
    """filter_unseen with a SeenSet gives the exact anti-join answer."""
    from pyspark.sql import functions as F

    from volltextextraktion_selenium_md_spark.operators import seen as seen_ops

    seen = seen_ops.with_hashes(
        spark.range(0, 500).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"))
    )
    cands = seen_ops.with_hashes(
        spark.range(250, 900).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"))
    )
    ss = seen_ops.SeenSet.build(seen, n_items=500, n_shards=8)
    got = {r["url"] for r in seen_ops.filter_unseen(cands, seen, ss).collect()}
    want = {f"u{i}" for i in range(500, 900)}
    assert got == want
