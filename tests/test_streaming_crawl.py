"""Service-mode crawling (streaming/crawl.py): a stream of
CrawlRequests is crawled incrementally against the persistent snapshot
store — the reference's long-running FastAPI loop (app/main.py: each
POST /extract is served against the live service state). Exactness
chain: streaming == sequential engine batches == golden replay with
the seen set carried across batches."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_frontier_replay import KEY, _gold_order, _spark_order
from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.replay import _SEED_COLS, replay_crawl


def _seed_halves(spark):
    """The graph seed list split in two arrival batches (seed_idx is
    the service's FIFO arrival order, preserved across the split)."""
    graph.register_graph_views(spark, SF_SMALL)
    seeds = graph.seeds(spark)
    rows = seeds.orderBy("seed_idx").collect()
    half = len(rows) // 2
    df1 = spark.createDataFrame(rows[:half], seeds.schema)
    df2 = spark.createDataFrame(rows[half:], seeds.schema)
    d1 = [{k: r[k] for k in _SEED_COLS} for r in rows[:half]]
    d2 = [{k: r[k] for k in _SEED_COLS} for r in rows[half:]]
    return df1, df2, d1, d2


def _concat_gold(*reps):
    """Concatenated golden logs of sequential batches, renumbered the
    way the engine's cumulative global ordinal numbers them (batch k+1
    rounds all exceed batch k's, so concatenation is already in
    (round, depth, lineage) order)."""
    gold = [dict(g) for rep in reps for g in rep.crawl_order]
    for i, row in enumerate(gold, start=1):
        row["ordinal"] = i
    return [tuple(g[k] for k in KEY) for g in gold]


def test_incremental_new_seeds_match_replay(spark, tmp_path):
    cfg = CrawlConfig()
    df1, df2, d1, d2 = _seed_halves(spark)
    store = str(tmp_path / "store")

    r1 = CrawlEngine(
        spark, SF_SMALL, cfg, checkpoint_dir=store, new_seeds=df1
    ).run()
    g1 = replay_crawl(SF_SMALL, cfg, seeds=d1)
    assert _spark_order(r1) == _gold_order(g1)

    # batch 2 joins the persistent crawl: already-seen request URLs are
    # dropped, new ones BFS from the resumed round with a fresh budget
    r2 = CrawlEngine(
        spark, SF_SMALL, cfg, checkpoint_dir=store, new_seeds=df2
    ).run()
    g2 = replay_crawl(
        SF_SMALL, cfg, seeds=d2, initial_seen=g1.seen, start_round=g1.rounds
    )
    assert _spark_order(r2) == _concat_gold(g1, g2)
    assert {r["url"] for r in r2.seen.collect()} == g2.seen

    # non-vacuous: batch 2 crawled real new work, AND the carried seen
    # set actually pruned it (the same batch standalone crawls more)
    assert len(g2.crawl_order) > 0
    g2_alone = replay_crawl(SF_SMALL, cfg, seeds=d2)
    assert len(g2.crawl_order) < len(g2_alone.crawl_order)


def test_incremental_with_filters_and_convert(spark, tmp_path):
    """Service batches with the full state surface on: the sharded
    seen-set prefilter (its blob carried between batches) and the
    convert stage whose payload table accumulates across batches in the
    same store."""
    cfg = CrawlConfig()
    df1, df2, d1, d2 = _seed_halves(spark)
    store = str(tmp_path / "store")
    kw = dict(
        checkpoint_dir=store, use_bloom=True, with_convert=True,
    )
    r1 = CrawlEngine(spark, SF_SMALL, cfg, new_seeds=df1, **kw).run()
    n_pay1 = r1.payloads.count() if r1.payloads is not None else 0
    r2 = CrawlEngine(spark, SF_SMALL, cfg, new_seeds=df2, **kw).run()
    g1 = replay_crawl(SF_SMALL, cfg, seeds=d1)
    g2 = replay_crawl(
        SF_SMALL, cfg, seeds=d2, initial_seen=g1.seen, start_round=g1.rounds
    )
    assert _spark_order(r2) == _concat_gold(g1, g2)
    # payload MERGE accumulated batch 2's images on top of batch 1's
    assert r2.payloads is not None
    assert r2.payloads.count() > n_pay1 > 0


def test_already_extracted_requests_are_skipped(spark, tmp_path):
    """Re-POSTing the same requests is the service's cache-hit path:
    the second run must fetch NOTHING new and leave the store's log
    identical."""
    cfg = CrawlConfig()
    df1, _, d1, _ = _seed_halves(spark)
    store = str(tmp_path / "store")
    r1 = CrawlEngine(
        spark, SF_SMALL, cfg, checkpoint_dir=store, new_seeds=df1
    ).run()
    n1 = r1.fetch_log.count()
    r2 = CrawlEngine(
        spark, SF_SMALL, cfg, checkpoint_dir=store, new_seeds=df1
    ).run()
    assert r2.fetch_log.count() == n1
    assert _spark_order(r2) == _spark_order(r1)


def _seed_dict(idx, url):
    d = {c: None for c in _SEED_COLS}
    d.update(
        seed_idx=idx, priority=0, raw_url=url, mode="fast",
        js_strategy="speed", llm_anonymize=False, llm_postprocess=False,
        extract_links=True,
    )
    return d


_SEED_DDL = (
    "raw_url string, seed_idx bigint, priority int, mode string, "
    "js_strategy string, llm_anonymize boolean, llm_postprocess boolean, "
    "extract_links boolean"
)


def _seed_row(d):
    return (
        d["raw_url"], d["seed_idx"], d["priority"], d["mode"],
        d["js_strategy"], d["llm_anonymize"], d["llm_postprocess"],
        d["extract_links"],
    )


def test_resume_filter_covers_same_batch_seed_urls(spark, tmp_path):
    """Regression: the restored bloom blob covers the RESTORED seen
    table only — a request batch's fresh seeds must be folded into it,
    or the first post-resume round's prefilter routes a child link
    equal to a same-batch seed URL around the anti-join as "definitely
    new" and crawls it twice. Construction: batch 2 = seeds A and B
    where page A links to B (verified as a precondition), batch 1 = an
    unrelated page whose depth-1 neighborhood avoids both."""
    A = "https://host8.example.com/page/10"
    B = "https://host43.example.com/page/124"
    C = "https://host0.example.com/page/12"

    d1 = [_seed_dict(0, C)]
    d2 = [_seed_dict(1, A), _seed_dict(2, B)]
    df1 = spark.createDataFrame([_seed_row(d) for d in d1], _SEED_DDL)
    df2 = spark.createDataFrame([_seed_row(d) for d in d2], _SEED_DDL)

    cfg = CrawlConfig(max_depth=1)
    store = str(tmp_path / "store")
    kw = dict(checkpoint_dir=store, use_bloom=True)
    CrawlEngine(spark, SF_SMALL, cfg, new_seeds=df1, **kw).run()
    r2 = CrawlEngine(spark, SF_SMALL, cfg, new_seeds=df2, **kw).run()

    g1 = replay_crawl(SF_SMALL, cfg, seeds=d1)
    g2 = replay_crawl(
        SF_SMALL, cfg, seeds=d2, initial_seen=g1.seen, start_round=g1.rounds
    )
    # preconditions: B crawled once at depth 0, and A really links to B
    # (so the duplicate-child exposure exists in the first post-resume
    # round)
    assert [g["depth"] for g in g2.crawl_order if g["url"] == B] == [0]
    from volltextextraktion_selenium_md_spark.replay import (
        _load_graph,
        canonicalize_one,
    )
    pages, links, _, _ = _load_graph(SF_SMALL)
    a_children = {
        canonicalize_one(raw)
        for (_, raw, _) in links.get(pages[A]["page_id"], [])
    }
    assert B in a_children

    assert _spark_order(r2) == _concat_gold(g1, g2)


def test_request_results_returns_one_requests_subtree(spark, tmp_path):
    """The per-request response accessor: the rows of exactly that
    request's crawl subtree (lineage prefix), in crawl order."""
    from volltextextraktion_selenium_md_spark.streaming.crawl import (
        request_results,
    )

    cfg = CrawlConfig()
    df1, _, d1, _ = _seed_halves(spark)
    store = str(tmp_path / "store")
    CrawlEngine(
        spark, SF_SMALL, cfg, checkpoint_dir=store, new_seeds=df1
    ).run()
    g1 = replay_crawl(SF_SMALL, cfg, seeds=d1)
    idx = d1[0]["seed_idx"]
    res = request_results(spark, store, idx)
    got = [
        (r["url"], r["lineage"], r["outcome"])
        for r in res.collect()
        # replay's crawl_order excludes robots-blocked rows; the
        # accessor returns them (part of the request's response story)
        if r["outcome"] != "blocked"
    ]
    prefix = f"{idx:06d}"
    gold = [
        (g["url"], g["lineage"], g["outcome"])
        for g in g1.crawl_order
        if g["lineage"] == prefix or g["lineage"].startswith(prefix + ".")
    ]
    assert got == gold and len(got) > 1


def test_stream_crawl_two_microbatches_match_replay(spark, tmp_path):
    """The streaming entry point end-to-end: two request files arrive
    between two availableNow drains; the store's cumulative fetch log
    equals the concatenated golden replay."""
    from volltextextraktion_selenium_md_spark.sources.lakehouse import (
        SnapshotStore,
    )
    from volltextextraktion_selenium_md_spark.streaming.crawl import (
        crawl_request_stream,
    )

    cfg = CrawlConfig()
    df1, df2, d1, d2 = _seed_halves(spark)
    req_dir = str(tmp_path / "requests")
    stream_ckpt = str(tmp_path / "stream_ckpt")
    store = str(tmp_path / "store")

    schema = df1.schema
    df1.coalesce(1).write.mode("append").parquet(req_dir)
    requests = spark.readStream.schema(schema).parquet(req_dir)
    q = crawl_request_stream(
        spark, SF_SMALL, requests, store, stream_ckpt, cfg=cfg
    )
    q.awaitTermination()

    df2.coalesce(1).write.mode("append").parquet(req_dir)
    requests = spark.readStream.schema(schema).parquet(req_dir)
    q = crawl_request_stream(
        spark, SF_SMALL, requests, store, stream_ckpt, cfg=cfg
    )
    q.awaitTermination()

    g1 = replay_crawl(SF_SMALL, cfg, seeds=d1)
    g2 = replay_crawl(
        SF_SMALL, cfg, seeds=d2, initial_seen=g1.seen, start_round=g1.rounds
    )
    log = SnapshotStore(store).read(spark, "fetch_log")
    got = [
        tuple(r[k] for k in KEY if k != "ordinal")
        for r in log.filter("outcome <> 'blocked'")
        .orderBy("round", "depth", "lineage")
        .collect()
    ]
    gold = [
        t[1:] for t in _concat_gold(g1, g2)  # drop the ordinal column
    ]
    assert got == gold
    seen = SnapshotStore(store).read(spark, "seen")
    assert {r["url"] for r in seen.collect()} == g2.seen
