"""A service batch's fixed Spark-job budget and the schema-carrying
reads behind it: registration and store reads take their schemas from
parquet footers and snapshot manifests, so they submit no Spark job,
and those schemas are exactly the ones Spark would infer."""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_MED, SF_SMALL
from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions.lineage import (
    SEED_WIDTH,
    segment,
)
from volltextextraktion_selenium_md_spark.plans import frontier
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.replay import (
    _SEED_COLS,
    _load_graph,
    replay_crawl,
)
from volltextextraktion_selenium_md_spark.schemas import footer_schema
from volltextextraktion_selenium_md_spark.sources.lakehouse import (
    PartitionedTable,
    SnapshotStore,
    read_merged,
)
from volltextextraktion_selenium_md_spark.streaming.crawl import request_results

PERFBENCH_DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "data", "sf0.01",
)

# Spark jobs of the second service batch below (3 new requests, one
# round, convert + LLM, then one request_results read per request) on
# the test session (local[8], 8 shuffle partitions). The count repeats
# exactly run to run. The same batch ran 61 jobs before store reads took
# their schemas from the manifest, convert width was capped at the
# round's rows and request_results sorted in one partition, and 47
# before a round that cannot expand (these requests are leaves) stopped
# planning child expansion and the log's global ordinal waited for a
# fetch_log read.
SERVICE_BATCH_JOB_BUDGET = 35

_REQUEST_DDL = (
    "raw_url string, seed_idx bigint, priority int, mode string, "
    "llm_postprocess boolean, extract_links boolean"
)


def _job_count(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) + 1 if ids else 0


def record_links_cache(eng: CrawlEngine) -> list[int]:
    """Wrap ``eng._endgame`` to record, before it unpersists the graph
    tables, how many partitions of the link cache the block manager
    holds: the cached relation ``CrawlEngine._prep_tables`` hash-
    partitions on ``src_page_id``, the only one keyed on it."""
    held: list[int] = []
    endgame = eng._endgame

    def recording():
        infos = eng.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        held.append(sum(
            i.numCachedPartitions() for i in infos
            if "hashpartitioning(src_page_id" in i.name()
        ))
        return endgame()

    eng._endgame = recording
    return held


def _batches():
    """Two batches of one plain HTML page, one PDF and one image each,
    served in one round: status 200, robots-allowed, no render or
    consent detours, leaves (extract_links false)."""
    pages, _, _, robots = _load_graph(SF_SMALL)

    def allowed(url):
        rule = robots.get(url.split("/")[2], {})
        prefix = rule.get("disallow_prefix")
        return not (prefix and ("/page/" + url.split("/page/")[1]).startswith(prefix))

    pools = []
    for kind in ("text/html", "application/pdf", "image/jpeg"):
        pools.append(sorted(
            u for u, p in pages.items()
            if p["status"] == 200 and p["content_type"].startswith(kind)
            and allowed(u) and not (kind == "text/html" and (
                p["spa_mark"] or p["js_required"] or p["consent"]
                or p["bot_wall"] or p["youtube"] or p["rss_link"]))
        ))
    out, idx = [], 0
    for b in range(2):
        batch = []
        for pool in pools:
            d = {c: None for c in _SEED_COLS}
            d.update(raw_url=pool[b], seed_idx=idx, priority=0, mode="fast",
                     js_strategy="speed", llm_anonymize=False,
                     llm_postprocess=True, extract_links=False)
            batch.append(d)
            idx += 1
        out.append(batch)
    return out


def _rows(batch):
    return [(d["raw_url"], d["seed_idx"], d["priority"], d["mode"],
             d["llm_postprocess"], d["extract_links"]) for d in batch]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """A store that has served two batches; returns the store path, the
    second batch's job count, its request results and how often the
    batches called ``global_ordinal``."""
    store = str(tmp_path_factory.mktemp("service") / "store")
    ordinal_calls = []
    ordinal = frontier.global_ordinal

    def counting(*a, **kw):
        ordinal_calls.append(1)
        return ordinal(*a, **kw)
    cfg = CrawlConfig()
    b1, b2 = _batches()
    graph.register_graph_views(spark, SF_SMALL)

    def serve(batch):
        eng = CrawlEngine(
            spark, SF_SMALL, cfg=cfg, checkpoint_dir=store,
            new_seeds=spark.createDataFrame(_rows(batch), _REQUEST_DDL),
            with_convert=True, with_llm=True, collect_round_counts=False,
        )
        links_cached = record_links_cache(eng)
        res = eng.run()
        return res, [request_results(spark, store, d["seed_idx"]).collect()
                     for d in batch], links_cached[0]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(frontier, "global_ordinal", counting)
        serve(b1)
        j0 = _job_count(spark)
        res, results, links_cached = serve(b2)
        jobs = _job_count(spark) - j0
    g1 = replay_crawl(SF_SMALL, cfg, seeds=b1)
    g2 = replay_crawl(SF_SMALL, cfg, seeds=b2, initial_seen=g1.seen,
                      start_round=g1.rounds)
    assert g2.rounds == g1.rounds + 1 == res.rounds  # one round per batch
    return {"store": store, "jobs": jobs, "batch": b2, "results": results,
            "gold": g2, "links_cached": links_cached,
            "ordinal_calls": len(ordinal_calls)}


def test_service_batch_stays_within_job_budget(served):
    # every request's response is its one-row subtree in the replay
    for d, got in zip(served["batch"], served["results"]):
        prefix = segment(d["seed_idx"], SEED_WIDTH)
        want = [(g["url"], g["lineage"], g["outcome"])
                for g in served["gold"].crawl_order
                if g["lineage"].split(".")[0] == prefix]
        assert len(want) == 1
        assert [(r["url"], r["lineage"], r["outcome"]) for r in got] == want
    assert served["jobs"] <= SERVICE_BATCH_JOB_BUDGET, served["jobs"]
    # a batch of leaf requests cannot expand: it never builds the link
    # cache. It never reads fetch_log, so it never assigns the global
    # ordinal either
    assert served["links_cached"] == 0
    assert served["ordinal_calls"] == 0


def test_registration_and_store_reads_submit_no_jobs(spark, served):
    graph._REGISTERED_KEY[0] = None
    j0 = _job_count(spark)
    graph.register_graph_views(spark, SF_SMALL)
    store = SnapshotStore(served["store"])
    for name in store.manifest()["tables"]:
        store.read(spark, name)
    read_merged(spark, os.path.join(served["store"], "payload_table"), "image_id")
    request_results(spark, served["store"], 0)
    assert _job_count(spark) == j0


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MED, PERFBENCH_DATA])
def test_footer_schema_equals_inferred(spark, sf_dir):
    for name in graph.BASE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert footer_schema(path) == spark.read.parquet(path).schema, path


def test_manifest_schemas_equal_inferred(spark, served):
    store = SnapshotStore(served["store"])
    for v in store.versions():
        man = store.manifest(v)
        assert set(man["schemas"]) == set(man["tables"])
        for name in man["tables"]:
            path = os.path.join(served["store"], f"v{v}", f"{name}.parquet")
            assert man["schemas"][name] == spark.read.parquet(path).schema.jsonValue()
    table = PartitionedTable(os.path.join(served["store"], "payload_table"), "image_id")
    man = table.manifest()
    paths = [os.path.join(table.root, "data", f) for f in man["files"].values()]
    assert man["schema"] == spark.read.parquet(*paths).schema.jsonValue()

