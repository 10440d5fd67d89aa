"""One driver-contract flagship run (bench.py's crawl_saturated_e2e
shape) in a fresh JVM, printed as one JSON line — the unit of evidence
for BENCH_RUNS_r{N}.jsonl.

Usage: python scripts/flagship_once.py [sf_dir] [cores] [label]
Honors SPARK_GRAFT_CONF ("k=v;k=v") for per-run Spark conf overrides.
"""

from __future__ import annotations

import json
import os
import sys
import time

# repo root = parent of scripts/ — portable so the same script can
# benchmark an older checkout from a worktree
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    label = sys.argv[3] if len(sys.argv) > 3 else "flagship"
    extra = dict(
        kv.split("=", 1)
        for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";")
        if "=" in kv
    )
    spark = get_spark(
        app_name=f"flagship-{cores}", master=f"local[{cores}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cores, 8)))),
        extra_conf=extra,
    )
    # warm-up: JVM/codegen/Arrow init on the ACTUAL engine code paths —
    # a 2-round crawl at the smallest SF compiles every generated class
    # (windows, joins, pandas UDF plumbing) before the measured run, so
    # the flagship measures steady-state throughput, not first-job JIT
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        CrawlEngine(spark, warm_dir, cfg=CrawlConfig(max_rounds=2)).run().fetch_log.count()
        # drop the warm-up engine's persisted relations so warm-dir data
        # doesn't sit in executor storage memory during the measured run
        spark.catalog.clearCache()
    else:
        spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    cfg = CrawlConfig(max_depth=6, host_budget_per_round=1_000_000, max_rounds=10)
    t0 = time.time()
    res = CrawlEngine(spark, sf_dir, cfg=cfg).run()
    t_run = time.time() - t0
    decisions = res.fetch_log.filter(F.col("outcome") != "blocked").count()
    wall = time.time() - t0
    t_count = wall - t_run
    loadavg = os.getloadavg()[0]
    print(json.dumps({
        "label": label, "job": "flagship", "cores": cores,
        "sf_dir": sf_dir, "wall_s": round(wall, 2), "decisions": decisions,
        "rate": round(decisions / wall, 1), "rounds": res.rounds,
        "run_s": round(t_run, 2), "count_s": round(t_count, 2),
        "post_loop_s": res.post_loop_s,
        "round_walls": res.round_walls, "loadavg_before": round(loadavg, 2),
        "conf": extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()


