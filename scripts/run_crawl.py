"""spark-submit entry point for the crawl engine (north rule: "runs via
spark-submit --py-files at N and 4N executors").

Local sandbox:
    scripts/submit.sh --sf-dir /root/testdata/sf0.01 --out /tmp/crawl_out

Real cluster (the same file, no code changes):
    spark-submit --master yarn --deploy-mode cluster \\
      --num-executors 64 --executor-cores 4 \\
      --py-files dist/volltextextraktion_selenium_md_spark.zip \\
      scripts/run_crawl.py --sf-dir s3://bucket/graph --out s3://bucket/out

The script creates NO SparkSession config of its own beyond app
defaults — executor count/cores come from spark-submit, which is what
makes the N vs 4N comparison a pure submit-flag change.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True, help="graph/testdata parquet dir")
    ap.add_argument("--out", required=True, help="output dir (fetch log + metrics)")
    ap.add_argument("--checkpoint-dir", default=None, help="snapshot/resume dir")
    ap.add_argument("--max-depth", type=int, default=2)
    ap.add_argument("--max-rounds", type=int, default=16)
    ap.add_argument("--host-budget", type=int, default=20)
    ap.add_argument("--mirrors", type=int, default=1)
    ap.add_argument("--payload-scale", type=int, default=1)
    ap.add_argument("--convert", action="store_true", help="run the convert stage")
    ap.add_argument(
        "--use-bloom", action="store_true",
        help="prefilter seen-set candidates through a sharded Bloom "
             "filter (one shard per session partition); the exact "
             "anti-join still decides, so results are unchanged",
    )
    ap.add_argument(
        "--requests", default=None,
        help="service mode: parquet of CrawlRequest rows (raw_url, "
             "seed_idx, priority + optional request columns) served "
             "INCREMENTALLY against --checkpoint-dir's persistent store "
             "(already-extracted URLs skipped); repeat the submit with "
             "a new file to serve the next batch",
    )
    args = ap.parse_args()
    if args.requests is not None:
        if not args.checkpoint_dir:
            ap.error("--requests (service mode) requires --checkpoint-dir")
        if args.mirrors != 1:
            ap.error("--requests (service mode) cannot be combined with --mirrors")

    # package import works both from --py-files zip and from the repo
    from volltextextraktion_selenium_md_spark.config import CrawlConfig
    from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine

    spark = SparkSession.builder.appName("crawl-frontier").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = CrawlConfig(
        max_depth=args.max_depth,
        max_rounds=args.max_rounds,
        host_budget_per_round=args.host_budget,
        payload_scale=args.payload_scale,
    )
    new_seeds = None
    if args.requests is not None:
        new_seeds = spark.read.parquet(args.requests)
    t0 = time.time()
    res = CrawlEngine(
        spark, args.sf_dir, cfg=cfg,
        with_convert=args.convert, use_bloom=args.use_bloom,
        mirrors=args.mirrors, checkpoint_dir=args.checkpoint_dir,
        new_seeds=new_seeds,
    ).run()

    res.fetch_log.write.mode("overwrite").parquet(f"{args.out}/fetch_log")
    res.metrics.write.mode("overwrite").parquet(f"{args.out}/metrics")
    res.partition_metrics.write.mode("overwrite").parquet(
        f"{args.out}/partition_metrics"
    )
    if res.payloads is not None:
        res.payloads.write.mode("overwrite").parquet(f"{args.out}/payloads")
    wall = time.time() - t0
    n = (
        spark.read.parquet(f"{args.out}/fetch_log")
        .filter(F.col("outcome") != "blocked").count()
    )
    print(json.dumps({
        "rounds": res.rounds,
        "decisions": n,
        "wall_s": round(wall, 2),
        "decisions_per_sec": round(n / wall, 1),
        "out": args.out,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
