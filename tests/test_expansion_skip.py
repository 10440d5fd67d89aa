"""Rounds that cannot expand. A round whose frontier has no row below
the depth cap that asks for links (``plans.frontier.can_expand``) plans
no children and no unseen rows: its next frontier is deferred ∪
retries and it adds no seen delta. These tests hold the engine to the
golden replay at the edges of that skip, and check that the global
ordinal is assigned when ``CrawlResult.fetch_log`` is first read, never
before."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tests.test_frontier_replay import _gold_order, _spark_order
from tests.test_service_jobs import record_links_cache
from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans import frontier
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.replay import _load_graph, replay_crawl
from volltextextraktion_selenium_md_spark.sources.lakehouse import SnapshotStore

# depth 1, no budget cut: round 0 expands the seeds, round 1 fetches
# their children (all at the cap) and round 2 a retry — both skip
CAPPED = CrawlConfig(max_depth=1, host_budget_per_round=1_000_000)


def expanding_rounds(eng: CrawlEngine) -> list[int]:
    """The rounds in which ``eng`` builds children, recorded as it runs."""
    rounds: list[int] = []
    children = eng._children

    def recording(fetched):
        rounds.append(eng._rnd)
        return children(fetched)

    eng._children = recording
    return rounds


def _exact(res, cfg, **replay_kw):
    rep = replay_crawl(SF_SMALL, cfg, **replay_kw)
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen
    return rep


def test_capped_crawl_skips_and_resumes_exact(spark, tmp_path):
    """The last round of a depth-capped crawl skips; the seen table it
    commits is already the whole crawl's, and a resume from that
    snapshot finishes the crawl exactly."""
    store_dir = str(tmp_path / "store")
    first = CrawlEngine(
        spark, SF_SMALL, CrawlConfig(max_depth=1, max_rounds=2,
                                     host_budget_per_round=1_000_000),
        checkpoint_dir=store_dir,
    )
    rounds = expanding_rounds(first)
    first.run()
    assert rounds == [0]  # round 1, the committed one, skipped
    store = SnapshotStore(store_dir)
    assert store.manifest()["meta"]["round"] == 1
    seen = {r["url"] for r in store.read(spark, "seen").collect()}
    assert seen == replay_crawl(SF_SMALL, CAPPED).seen

    resumed = CrawlEngine(spark, SF_SMALL, CAPPED, checkpoint_dir=store_dir)
    rounds = expanding_rounds(resumed)
    res = resumed.run()
    assert rounds == [] and res.rounds == 3
    _exact(res, CAPPED)


def test_skipped_round_on_compaction_cadence_partitioned_base(spark):
    """A tight host budget spreads the seeds over rounds 0-2, so round
    3 — the first compaction round — cannot expand, yet still holds
    three seen deltas over the base. It folds them like any other
    compaction round, and the crawl, whose every anti-join is left to
    the planner (``SEEN_BROADCAST_MAX = 1``), stays exact."""
    cfg = CrawlConfig(max_depth=1, host_budget_per_round=3, max_rounds=20)
    eng = CrawlEngine(spark, SF_SMALL, cfg)
    eng.SEEN_BROADCAST_MAX = 1
    rounds = expanding_rounds(eng)
    # (round, seen parts folded) at each compaction
    folds = []
    compact = eng._compact_seen

    def recording(unseen):
        dead = compact(unseen)
        if dead:
            folds.append((eng._rnd, len(dead)))
        return dead

    eng._compact_seen = recording
    res = eng.run()
    last = CrawlEngine.SEEN_COMPACT_EVERY - 1
    assert last not in rounds and last - 1 in rounds
    # base + three deltas folded in a skip round
    assert folds[0] == (last, 4)
    _exact(res, cfg)


def test_convert_on_capped_crawl_exact(spark):
    eng = CrawlEngine(spark, SF_SMALL, CAPPED, with_convert=True)
    rounds = expanding_rounds(eng)
    res = eng.run()
    assert rounds == [0] and res.rounds == 3
    rep = _exact(res, CAPPED)
    fetched = sorted(g["url"] for g in rep.crawl_order if g["outcome"] == "fetched")
    assert sorted(r["url"] for r in res.conversions.select("url").collect()) == fetched


def test_one_expandable_row_keeps_the_full_path(spark):
    """Every seed but one is a leaf (extract_links false): round 0 has a
    single expandable row, so it builds children — and the link cache —
    exactly as an all-expandable round does."""
    cfg = CrawlConfig()
    root = next(int(g["lineage"].split(".")[0])
                for g in replay_crawl(SF_SMALL, cfg).crawl_order if g["depth"] == 1)
    seeds = [{**s, "extract_links": s["seed_idx"] == root}
             for s in _load_graph(SF_SMALL)[2]]
    graph.register_graph_views(spark, SF_SMALL)
    eng = CrawlEngine(spark, SF_SMALL, cfg)
    eng.seeds = graph.seeds(spark).withColumn(
        "extract_links", F.col("seed_idx") == root
    )
    rounds = expanding_rounds(eng)
    links_cached = record_links_cache(eng)
    res = eng.run()
    assert rounds[0] == 0
    assert links_cached[0] > 0
    rep = _exact(res, cfg, seeds=seeds)
    # the only children are the expandable seed's subtree
    roots = {int(g["lineage"].split(".")[0]) for g in rep.crawl_order if g["depth"] > 0}
    assert roots == {root}


def test_fetch_log_ordinal_assigned_once_on_first_read(spark, monkeypatch):
    calls = []
    ordinal = frontier.global_ordinal

    def counting(*a, **kw):
        calls.append(1)
        return ordinal(*a, **kw)

    monkeypatch.setattr(frontier, "global_ordinal", counting)
    res = CrawlEngine(spark, SF_SMALL, CAPPED).run()
    assert calls == []
    log = res.fetch_log
    assert res.fetch_log is log and len(calls) == 1
    rows = log.select("outcome", "ordinal").collect()
    decided = sorted(r["ordinal"] for r in rows if r["outcome"] != "blocked")
    assert decided == list(range(1, len(decided) + 1))
    assert all(r["ordinal"] is None for r in rows if r["outcome"] == "blocked")
    # the per-round counts come from the log without the ordinal
    assert {(r["round"], r["outcome"]): r["n"] for r in res.metrics.collect()} == {
        (r["round"], r["outcome"]): r["count"]
        for r in log.groupBy("round", "outcome").count().collect()
    }
    assert len(calls) == 1


@pytest.mark.parametrize("extract_links", [None, True, False])
def test_can_expand_matches_the_replay_gate(spark, extract_links):
    """``can_expand`` is the replay's expansion gate on (depth,
    extract_links): below the cap, and NULL expands like true."""
    rows = [(d, extract_links) for d in range(4)]
    df = spark.createDataFrame(rows, "depth int, extract_links boolean")
    got = [r[0] for r in df.select(frontier.can_expand(2)).collect()]
    assert got == [d < 2 and extract_links is not False for d, _ in rows]
