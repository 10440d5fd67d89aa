"""One scaling-benchmark run at a fixed parallelism, in a fresh JVM.

Usage: python scripts/scaling_worker.py <sf_dir> <cores> <job> [mirrors] [scale]
jobs:
  engine   — saturated flagship crawl (depth-6 BFS, open budget, convert
             ON at web-realistic payload_scale): the full north-rule job.
  convert  — the fetch+convert kernel alone: every page minted + decoded
             + extracted through the vectorized mapInPandas stage.
  frontier — the frontier-maintenance kernel alone: canonicalize 9.6M
             raw links, first-seen dedup window, seen anti-join.

Prints one JSON line with cores/job/wall_s/rows/rate. The same job and
input at every parallelism level, per the north rule's two-cluster-size
criterion; mirrors scale the URL space toward the 10^10 design point
without new data files.
"""

from __future__ import annotations

import json
import os
import sys
import time

# repo root = parent of scripts/, so a second checkout runs its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.convert import (
    FEATURE_COLS,
    convert_stage,
)
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.functions.lineage import (
    CRAWL_ORDER,
    DOC_POS_WIDTH,
    segment_col,
)
from volltextextraktion_selenium_md_spark.functions.urls import canonicalize_url
from volltextextraktion_selenium_md_spark.operators.dedup import first_seen
from volltextextraktion_selenium_md_spark.operators import seen as seen_ops
from volltextextraktion_selenium_md_spark.session import get_spark


_LAST_ROUND_WALLS: list[float] = []


def job_engine(spark, sf_dir, cores, mirrors, scale):
    import os

    cfg = CrawlConfig(
        max_depth=6, host_budget_per_round=1_000_000, max_rounds=10,
        payload_scale=scale,
    )
    # the engine plans at the session width (SPARK_GRAFT_SHUFFLE,
    # default max(cores, 8), set in main)
    eng = CrawlEngine(
        spark, sf_dir, cfg=cfg,
        with_convert=os.environ.get("SPARK_GRAFT_CONVERT", "1") == "1",
        mirrors=mirrors,
    )
    res = eng.run()
    n = res.fetch_log.filter(F.col("outcome") != "blocked").count()
    if res.payloads is not None:
        res.payloads.count()
    _LAST_ROUND_WALLS[:] = res.round_walls
    return n


def job_convert(spark, sf_dir, cores, mirrors, scale):
    graph.register_graph_views(spark, sf_dir)
    pages = graph.pages(spark)
    span = pages.agg(F.max("page_id")).first()[0] + 1
    pages = graph.mirror_pages(pages, mirrors, span)
    rows = pages.select(*FEATURE_COLS).repartition(max(cores, 8))
    cfg = CrawlConfig(payload_scale=scale)
    out = convert_stage(rows, cfg, emit_markdown=False)
    return out.count()


def job_frontier(spark, sf_dir, cores, mirrors, scale):
    graph.register_graph_views(spark, sf_dir)
    links = graph.links(spark)
    span = graph.pages(spark).agg(F.max("page_id")).first()[0] + 1
    links = graph.mirror_links(links, mirrors, span)
    seeds = graph.mirror_seeds(graph.seeds(spark), mirrors, span)
    children = links.select(
        canonicalize_url(F.col("raw_url")).alias("url"),
        F.col("dst_host").alias("host"),
        F.lit(1).alias("depth"),
        segment_col(F.col("doc_pos"), DOC_POS_WIDTH).alias("lineage"),
    )
    deduped = seen_ops.with_hashes(first_seen(children, "url", CRAWL_ORDER))
    seen = seeds.select(canonicalize_url(F.col("raw_url")).alias("url"))
    unseen = seen_ops.filter_unseen(deduped, seen)
    return unseen.count()


JOBS = {"engine": job_engine, "convert": job_convert, "frontier": job_frontier}


def main() -> None:
    sf_dir = sys.argv[1]
    cores = int(sys.argv[2])
    job = sys.argv[3] if len(sys.argv) > 3 else "engine"
    mirrors = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    scale = int(sys.argv[5]) if len(sys.argv) > 5 else 32
    import os

    extra = dict(
        kv.split("=", 1)
        for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";")
        if "=" in kv
    )
    if mirrors >= 8:
        # High-volume conf, per job shape. ENGINE runs keep the
        # width-preserving AQE defaults: the loop's barrier stages are
        # task-latency-bound, and the sizing conf (64m advisory)
        # collapses them to a single task (measured r5 with the since
        # deleted adaptive round width: convoff-adaptive-sizing 320.4 s
        # vs convoff-adaptive-pf 210.8/207.6 s, BENCH_RUNS_r5.jsonl);
        # every round plans at the session width. The standalone convert/
        # frontier KERNELS keep sizing-based coalescing (round-4
        # measurement: their one wide mapInPandas/shuffle pass is
        # volume-bound, not latency-bound). FAIR pools only when a
        # bulk-convert thread will actually exist to interleave with
        # (verdict #3) — on loop-only shapes FAIR is pure scheduling
        # overhead. SPARK_GRAFT_CONF still wins for A/B sweeps.
        from volltextextraktion_selenium_md_spark.session import (
            FAIR_SCHEDULER_CONF,
            SIZING_COALESCE_CONF,
        )

        if job != "engine":
            extra = {**SIZING_COALESCE_CONF, **extra}
        if job == "engine" and os.environ.get("SPARK_GRAFT_CONVERT", "1") == "1":
            extra = {**FAIR_SCHEDULER_CONF, **extra}
    spark = get_spark(
        app_name=f"scaling-{job}-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cores, 8)))
        ),
        extra_conf=extra,
    )
    # warm-up (JVM/codegen/Arrow init — excluded from the measurement)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    t0 = time.time()
    n = JOBS[job](spark, sf_dir, cores, mirrors, scale)
    wall = time.time() - t0
    print(json.dumps({
        "label": os.environ.get("SPARK_GRAFT_LABEL", ""),
        "cores": cores,
        "job": job,
        "mirrors": mirrors,
        "payload_scale": scale,
        "wall_s": round(wall, 2),
        "rows": n,
        "rate": round(n / wall, 1),
        "round_walls": _LAST_ROUND_WALLS,
        "loadavg_after": round(os.getloadavg()[0], 2),
        "conf": extra,
        "env": {
            k: v for k, v in os.environ.items()
            if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_LABEL"
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
