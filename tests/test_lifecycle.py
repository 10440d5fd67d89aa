"""Block-manager lifecycle: a crawl must not pin O(crawl volume) blocks.

Every round the engine localCheckpoints its fetch output, frontier,
unseen delta, and convert output. Without per-round release those blocks
stay pinned for the whole crawl (the per-round log/payload projections
reference them), retention grows with TOTAL crawl volume, and past ~50%
of unified memory the execution side starts spilling every shuffle —
the measured m128/s64 cliff in BENCH.md round 6. The pipelined path
re-checkpoints each round's log part narrow, releases the dead
fetched/frontier blocks, releases seen parts folded away by compaction,
and checkpoints the payload-bearing convert output DISK_ONLY."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine


def _retained(spark):
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (
        len(infos),
        sum(i.memSize() for i in infos),
        sum(i.diskSize() for i in infos),
    )


def test_pipelined_crawl_releases_dead_blocks(spark):
    spark.catalog.clearCache()
    # the suite shares one session: earlier tests' own checkpoints may
    # still hold blocks, so assert the DELTA this crawl leaves behind
    n0, mem0, _ = _retained(spark)
    res = CrawlEngine(
        spark, SF_SMALL, CrawlConfig(max_depth=3, max_rounds=5),
        mirrors=3, with_convert=True,
    ).run()
    # results stay fully readable after the run (releases must only hit
    # blocks no plan can reach)
    n = res.fetch_log.count()
    assert n > 0
    assert res.payloads is not None and res.payloads.count() > 0
    assert res.conversions is not None and res.conversions.count() > 0
    # deterministic ordinal still re-derivable from the narrow log parts
    decisions = res.fetch_log.filter(F.col("outcome") != "blocked")
    assert decisions.orderBy("ordinal").first()["ordinal"] == 1

    n_rdds, mem, disk = _retained(spark)
    # retention is O(log + payload), NOT O(rounds x wide checkpoints):
    # the narrow per-round log parts + live seen base + disk-only
    # payload blocks. The unfixed engine retained ~35 RDDs / multi-GB
    # at scale; at this SF it left ~25 MB pinned — assert an order of
    # magnitude under that on the DELTA this crawl leaves behind.
    assert n_rdds - n0 <= 25, f"crawl left {n_rdds - n0} RDDs pinned"
    assert mem - mem0 < 8 * 2**20, (
        f"crawl left {(mem - mem0) / 2**20:.1f} MB pinned in memory"
    )
