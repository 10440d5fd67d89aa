"""End-to-end exactness: Spark engine == single-threaded golden replay
(SURVEY §5.3; north rule 'matching the reference's crawl ordering and
URL-seen set under the same seed list + politeness budget')."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.replay import replay_crawl

KEY = ("ordinal", "round", "url", "depth", "lineage", "mode", "attempt",
       "outcome", "js_escalated")


def _spark_order(res):
    rows = (
        res.fetch_log.filter("outcome <> 'blocked'")
        .select(*KEY)
        .orderBy("ordinal")
        .collect()
    )
    return [tuple(r[k] for k in KEY) for r in rows]


def _gold_order(rep):
    return [tuple(g[k] for k in KEY) for g in rep.crawl_order]


@pytest.mark.parametrize("use_bloom", [False, True])
def test_crawl_order_and_seen_exact_match(spark, use_bloom):
    cfg = CrawlConfig()
    rep = replay_crawl(SF_SMALL, cfg)
    res = CrawlEngine(spark, SF_SMALL, cfg, use_bloom=use_bloom).run()
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen
    # the seed list mixes fast/js/auto modes — the per-request mode
    # column must ride through the whole crawl, not collapse to 'auto'
    assert {g["mode"] for g in rep.crawl_order} == {"fast", "js", "auto"}
    # the failure ladder (speed->accuracy escalation) actually fires in
    # this crawl — bot walls exist in the graph — and the exact-match
    # KEY above already proved engine==replay row-for-row on the flag
    assert any(g["js_escalated"] for g in rep.crawl_order)


def test_incremental_filter_maintenance(spark):
    """The maintained seen filter folds per-round deltas instead of
    rebuilding from the whole seen set every round; full rebuilds only
    happen on the geometric resize schedule. Invariants: (a) crawl
    still exactly matches the golden replay, (b) at end of crawl the
    filter claims EVERY seen url (bloom false negatives are
    correctness bugs — a missed key would bypass the anti-join),
    (c) at least one multi-url round folded rather than rebuilt."""
    from volltextextraktion_selenium_md_spark.operators import seen as seen_ops

    cfg = CrawlConfig(max_depth=3, max_rounds=8)
    rep = replay_crawl(SF_SMALL, cfg)
    eng = CrawlEngine(spark, SF_SMALL, cfg, use_bloom=True)
    res = eng.run()
    assert _spark_order(res) == _gold_order(rep)

    assert res.rounds > 2
    assert eng._filter_rebuilds < res.rounds

    filt = eng._seen_filter
    assert filt is not None
    definitely_new, _ = filt.partitioned_prefilter(
        seen_ops.with_hashes(res.seen.select("url"))
    )
    assert definitely_new.count() == 0


def test_tight_budget_and_retries_still_match(spark):
    """Politeness pressure: small per-host budget forces multi-round
    deferral; retries interleave with deferred rows."""
    cfg = CrawlConfig(host_budget_per_round=3, retries=2, max_depth=2, max_rounds=20)
    rep = replay_crawl(SF_SMALL, cfg)
    res = CrawlEngine(spark, SF_SMALL, cfg).run()
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen
    # deferral must actually have happened for this test to mean anything
    assert res.rounds > 3


def test_timeout_and_round_time_budget_match(spark):
    """Per-request timeout (504 path: modeled latency over timeout_ms
    retries then fails) and per-round TIME budget (slots past the
    budget defer) — both deterministic, both mirrored in the golden
    replay. timeout_ms=100 times out JS_LIGHT(_CONSENT) and
    second-chance pages; budget 400ms defers rows past 4 slots/host (the
    hot host crawls 8 rows/round at sf0.001, delay 100ms)."""
    cfg = CrawlConfig(timeout_ms=100, round_time_budget_ms=400, max_rounds=24)
    rep = replay_crawl(SF_SMALL, cfg)
    res = CrawlEngine(spark, SF_SMALL, cfg).run()
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen
    # non-vacuous: timeouts actually fired (failed rows on 200 pages)
    outcomes = {g["outcome"] for g in rep.crawl_order}
    assert "retry" in outcomes and "failed" in outcomes
    # and the time budget actually deferred: some urls crawl in a LATER
    # round than the same config without the budget
    rep_nb = replay_crawl(SF_SMALL, CrawlConfig(timeout_ms=100, max_rounds=24))
    with_b = {g["url"]: g["round"] for g in rep.crawl_order}
    without = {g["url"]: g["round"] for g in rep_nb.crawl_order}
    assert any(with_b[u] > without.get(u, 0) for u in with_b)


def test_js_strategy_mix_matches_replay(spark):
    """js_strategy speed/accuracy pools (reference js_fetcher.py:
    201-202): a timeout cap between the speed charge (JS_LIGHT 120ms)
    and the accuracy charge (120+180=300ms) makes the pool choice
    OUTCOME-visible — accuracy JS renders time out, speed ones fetch —
    and the engine still matches the golden replay row for row."""
    cfg = CrawlConfig(timeout_ms=200, max_rounds=20)
    rep = replay_crawl(SF_SMALL, cfg)
    res = CrawlEngine(spark, SF_SMALL, cfg).run()
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen
    # non-vacuous: the seed list actually mixes both pools, and the
    # SAME (mode, outcome-eligible) shape diverges by pool — find an
    # auto/js row pair where accuracy timed out but speed fetched
    by_pool = {"speed": set(), "accuracy": set()}
    for g in rep.crawl_order:
        if g["mode"] in ("js", "auto"):
            by_pool[g["js_strategy"]].add(g["outcome"])
    assert {"speed", "accuracy"} == {
        g["js_strategy"] for g in rep.crawl_order
    }
    assert "fetched" in by_pool["speed"]
    assert {"retry", "failed"} & by_pool["accuracy"]


def test_blocked_rows_match_replay(spark):
    cfg = CrawlConfig()
    rep = replay_crawl(SF_SMALL, cfg)
    res = CrawlEngine(spark, SF_SMALL, cfg).run()
    blocked = [
        r["url"]
        for r in res.fetch_log.filter("outcome = 'blocked'").collect()
    ]
    assert sorted(blocked) == sorted(rep.blocked)


def test_payload_invariants(spark):
    """input_hint: payload table shape + PSNR/caption invariants via the
    convert stage inside the engine."""
    import numpy as np

    from volltextextraktion_selenium_md_spark import codec

    res = CrawlEngine(spark, SF_SMALL, with_convert=True).run()
    assert res.payloads is not None
    rows = res.payloads.collect()
    assert len(rows) > 0
    for r in rows:
        key = int(r["image_id"].split("-")[1])
        src = codec.synth_image(key)
        got = codec.decode(bytes(r["bytes"]))
        assert (r["w"], r["h"]) == (src.shape[1], src.shape[0])
        if r["fmt"] == "png":
            assert np.array_equal(src, got)          # bit-exact lossless
        else:
            assert codec.psnr(src, got) >= 40.0       # lossy invariant
        assert r["caption"] == codec.synth_caption(key)   # caption equality
        assert r["phash"] == codec.average_hash(src)


def test_live_transport_engine_replay_match(spark):
    """A live crawl: the real network stage (mock transport serving
    the SAME deterministic graph as minted HTML-with-anchors) inside the
    engine loop — robots, budget, slots, seen-set, status retries and
    ordering are shared code; children come from payload link
    extraction. The fetch_log must match the golden replay row for row.
    Two mapped differences, both because live has no page table:
    replay's 'missing' is live's terminal 'failed', and replay's
    modeled js_escalated is live's NULL (the live transport never
    renders, so the speed->accuracy ladder outcome is unknowable —
    plans/frontier.py documents the divergence at the live branch)."""
    from volltextextraktion_selenium_md_spark.replay import _load_graph

    cfg = CrawlConfig()
    rep = replay_crawl(SF_SMALL, cfg)
    pages, links, _seeds, _robots = _load_graph(SF_SMALL)

    def make_factory(pages=pages, links=links):
        def factory():
            def call(url, user_agent, timeout_s, max_bytes, **kw):
                page = pages.get(url)
                if page is None:
                    raise ConnectionError("no such host")
                ctype = page["content_type"]
                if ctype.startswith("text/html"):
                    anchors = "".join(
                        f"<a href='{raw}'>link</a>"
                        for _pos, raw, _h in links.get(page["page_id"], [])
                    )
                    body = f"<html><body><main>page</main>{anchors}</body></html>"
                    payload = body.encode()
                else:
                    payload = b"binarybody"
                return page["status"], page["final_url"], payload, ctype
            return call
        return factory

    res = CrawlEngine(
        spark, SF_SMALL, cfg, transport_factory=make_factory(),
    ).run()
    got = _spark_order(res)
    want = [
        tuple(
            "failed" if (k == "outcome" and g[k] == "missing")
            else None if k == "js_escalated"
            else g[k]
            for k in KEY
        )
        for g in rep.crawl_order
    ]
    assert got == want
    assert {r["url"] for r in res.seen.collect()} == rep.seen
    # mode dispatch ran end-to-end: fast rows routed to httpx, js rows
    # to selenium, auto rows classified from the REAL payload bytes
    routes = {
        (r["mode"], r["route"])
        for r in res.fetch_log.filter("outcome = 'fetched'")
        .select("mode", "route").distinct().collect()
    }
    assert ("fast", "httpx") in routes and ("js", "selenium") in routes
    assert any(m == "auto" and r in ("preflight_bytes", "selenium")
               for m, r in routes)


def test_live_fetch_with_convert(spark):
    """with_convert in live mode converts the REAL payload bytes: the
    engine's markdown for a page equals convert_bytes applied directly
    to the transport's bytes; image rows yield no payload-table row
    (the minted image+caption table is the simulated corpus contract)."""
    from volltextextraktion_selenium_md_spark.plans.convert import (
        _Breaker,
        convert_bytes,
    )
    from volltextextraktion_selenium_md_spark.replay import _load_graph

    cfg = CrawlConfig(max_depth=1)
    pages, links, _seeds, _robots = _load_graph(SF_SMALL)

    def factory(pages=pages, links=links):
        def call(url, user_agent, timeout_s, max_bytes, **kw):
            page = pages.get(url)
            if page is None:
                raise ConnectionError("no such host")
            ctype = page["content_type"]
            if ctype.startswith("text/html"):
                anchors = "".join(
                    f"<a href='{raw}'>link</a>"
                    for _pos, raw, _h in links.get(page["page_id"], [])
                )
                payload = (
                    f"<html><body><main><h1>T{page['page_id']}</h1>"
                    f"<p>body text for page {page['page_id']} with enough "
                    f"characters to pass the main extraction length gate "
                    f"and then some more filler filler filler</p></main>"
                    f"{anchors}</body></html>"
                ).encode()
            else:
                payload = b"binarybody"
            return page["status"], page["final_url"], payload, ctype
        return call

    res = CrawlEngine(
        spark, SF_SMALL, cfg, transport_factory=factory, with_convert=True,
    ).run()
    conv = {r["url"]: r for r in res.conversions.collect()}
    assert len(conv) > 0
    # pick a fetched html page and recompute its conversion directly,
    # resolving the per-request convert settings that lineage inherited
    # from its seed (the replay carries every request column)
    from volltextextraktion_selenium_md_spark.replay import replay_crawl

    rep_rows = {
        r["url"]: r for r in replay_crawl(SF_SMALL, cfg).crawl_order
        if r["outcome"] == "fetched"
    }
    probe_url = next(
        u for u, p in pages.items()
        if u in conv and u in rep_rows
        and p["content_type"].startswith("text/html")
    )
    raw = factory()(probe_url, "ua", 1.0, cfg.max_bytes)[2]
    req = rep_rows[probe_url]
    mb = req.get("max_bytes")
    want_md, want_conv, _ = convert_bytes(
        conv[probe_url]["page_id"], pages[probe_url]["content_type"], raw,
        _Breaker(), int(mb) if mb is not None else cfg.max_bytes,
        media_policy=req.get("media_policy") or cfg.media_policy,
        forced_converter=req.get("html_converter"),
        trafilatura_clean=req.get("trafilatura_clean"),
    )
    assert conv[probe_url]["markdown"] == want_md
    assert conv[probe_url]["converter_used"] == want_conv
    # live image rows produce markdown only — no minted payload table
    assert res.payloads is None or res.payloads.count() == 0


@pytest.mark.parametrize("min_rows", [1, 60])
def test_partitioned_seen_base_still_exact(spark, min_rows):
    """The volume-adaptive seen set has two layouts: a plain broadcast
    base below ``seen_partitioned_min_rows`` and the hash-partitioned +
    sorted exchange-free base above it (the 10^10-scale layout). The
    default threshold (200k) means small-graph tests only ever exercise
    the plain path — this test forces promotion so BOTH layouts and the
    mid-crawl plain->partitioned handover are proven replay-exact:
    min_rows=1 promotes at round 0, min_rows=60 promotes mid-crawl
    (round 0 of the small graph seeds ~40 URLs)."""
    cfg = CrawlConfig()
    rep = replay_crawl(SF_SMALL, cfg)
    eng = CrawlEngine(
        spark, SF_SMALL, cfg, seen_partitioned_min_rows=min_rows
    )
    res = eng.run()
    # promotion actually happened — otherwise this test proves nothing
    assert eng._seen_partitioned
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen


def test_convert_on_partitioned_seen_base_exact_and_conf_kept(spark):
    """The partitioned seen base's capture turns AQE off on the session
    conf the bulk-convert thread shares, so it first drains every job
    handed to that thread. A convert-on mirrored crawl promoted to the
    partitioned base at round 0 (``seen_partitioned_min_rows=1``) and
    compacting again at round SEEN_COMPACT_EVERY - 1, each time right
    after the round's convert was submitted, stays replay-exact per
    mirror, and the session conf reads the same after the run."""
    from tests.test_mirror_factoring import REPLAY_KEY, per_mirror_crawl

    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.constraintPropagation.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    cfg = CrawlConfig(max_depth=3, max_rounds=5)
    mirrors = 2
    eng = CrawlEngine(
        spark, SF_SMALL, cfg, with_convert=True, mirrors=mirrors,
        seen_partitioned_min_rows=1,
    )
    # (round, convert jobs submitted so far) at each partitioned capture
    captures = []
    capture = eng._ckpt_partitioned

    def recording(df):
        captures.append((eng._rnd, len(eng._bulk_futures)))
        return capture(df)

    eng._ckpt_partitioned = recording
    res = eng.run()
    assert {k: spark.conf.get(k) for k in keys} == before
    # non-vacuous: promotion and a scheduled compaction both captured a
    # partitioned base with the round's convert already submitted
    assert eng._seen_partitioned
    assert (0, 1) in captures
    every = CrawlEngine.SEEN_COMPACT_EVERY
    assert (every - 1, every) in captures
    assert res.conversions.count() > 0
    per_m, seen_m = per_mirror_crawl(res, eng.span, mirrors)
    rep = replay_crawl(SF_SMALL, cfg)
    want = [tuple(g[k] for k in REPLAY_KEY) for g in rep.crawl_order]
    for m, got in per_m.items():
        assert [tuple(r[k] for k in REPLAY_KEY) for r in got] == want, m
    assert seen_m == {m: rep.seen for m in range(mirrors)}


def test_null_js_strategy_is_the_speed_pool(spark):
    """A request that carries ``js_strategy`` as NULL (present, not
    absent) runs in the default speed pool, as the replay does: the
    speed->accuracy ladder still escalates its renders and charges the
    surcharge (the KEY compares ``js_escalated`` row for row)."""
    from pyspark.sql import functions as F

    from volltextextraktion_selenium_md_spark import graph
    from volltextextraktion_selenium_md_spark.replay import _load_graph

    cfg = CrawlConfig(max_rounds=20)
    seeds = [{**s, "js_strategy": None} for s in _load_graph(SF_SMALL)[2]]
    rep = replay_crawl(SF_SMALL, cfg, seeds=seeds)
    # non-vacuous: the ladder fires in this crawl
    assert any(g["js_escalated"] for g in rep.crawl_order)
    graph.register_graph_views(spark, SF_SMALL)
    eng = CrawlEngine(spark, SF_SMALL, cfg)
    eng.seeds = graph.seeds(spark).withColumn(
        "js_strategy", F.lit(None).cast("string")
    )
    res = eng.run()
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen


def test_per_request_timeout_override_steers_outcomes(spark):
    """Per-request timeout_ms (reference schemas.py:116-128, NULL = use
    the global setting): seeds with seed_idx % 7 == 3 carry a 5000 ms
    override (graph g_seeds), so under a global timeout_ms=100 their
    whole lineage keeps fetching JS renders that time out everywhere
    else — and the engine still matches the golden replay exactly."""
    cfg = CrawlConfig(timeout_ms=100, max_rounds=20)
    rep = replay_crawl(SF_SMALL, cfg)
    res = CrawlEngine(spark, SF_SMALL, cfg).run()
    assert _spark_order(res) == _gold_order(rep)
    assert {r["url"] for r in res.seen.collect()} == rep.seen

    def overridden(row):
        return int(row["lineage"].split(".")[0]) % 7 == 3

    # non-vacuous in BOTH directions: an override-lineage JS render
    # fetched (its cost would exceed the global 100 ms cap), while the
    # same-shape non-override rows timed out into retry/failed
    js_rows = [g for g in rep.crawl_order if g["mode"] in ("js", "auto")]
    assert any(
        overridden(g) and g["outcome"] == "fetched" for g in js_rows
    )
    assert any(
        not overridden(g) and g["outcome"] in ("retry", "failed")
        for g in js_rows
    )
    # (no "override rows never fail" assertion: retryable HTTP statuses
    # legitimately retry regardless of the timeout override)


def test_extract_links_false_makes_leaf(spark):
    """Per-request extract_links (reference schemas.py:171-192): a
    false row is fetched and logged but expands NO children — its whole
    lineage is absent from the crawl, everything else identical. The
    graph mints all-true (a crawl client re-POSTs with true), so the
    false path is exercised by injecting modified seeds."""
    from pyspark.sql import functions as F

    from volltextextraktion_selenium_md_spark import graph

    graph.register_graph_views(spark, SF_SMALL)
    cfg = CrawlConfig(max_rounds=20)

    eng_all = CrawlEngine(spark, SF_SMALL, cfg)
    base = {r["lineage"]: r["outcome"]
            for r in eng_all.run().fetch_log.collect()}

    eng_gated = CrawlEngine(spark, SF_SMALL, cfg)
    eng_gated.seeds = graph.seeds(spark).withColumn(
        "extract_links", F.col("seed_idx") % 3 != 0
    )
    gated = {r["lineage"]: r["outcome"]
             for r in eng_gated.run().fetch_log.collect()}

    # pick a gated seed that actually expanded in the base run
    gated_roots = {f"{i:06d}" for i in range(0, 10_000, 3)}
    expanded = [l for l in base
                if "." in l and l.split(".")[0] in gated_roots]
    assert expanded, "need a gated seed with children in the base crawl"
    # every gated-lineage child is gone; the seed itself still fetched
    assert not any(l in gated for l in expanded)
    assert all(l.split(".")[0] in gated for l in expanded)
    # non-gated rows are untouched (same outcomes) unless they were
    # first reached THROUGH a gated lineage (different shortest path)
    still = {l: o for l, o in gated.items() if l in base}
    assert all(base[l] == o for l, o in still.items())


def test_engine_request_surface_steers_convert_and_llm(spark):
    """The FULL per-request surface rides the engine's frontier
    (REQUEST_COLS): seeds injected with convert/LLM overrides steer
    those stages row-wise for the seed's whole subtree — children
    inherit every column (reference re-POST semantics,
    app/schemas.py:44-226, resolution app/main.py:305-310)."""
    from pyspark.sql import functions as F

    from volltextextraktion_selenium_md_spark import graph

    graph.register_graph_views(spark, SF_SMALL)
    cfg = CrawlConfig(max_rounds=3)
    eng = CrawlEngine(spark, SF_SMALL, cfg, with_convert=True, with_llm=True)
    eng.seeds = (
        graph.seeds(spark)
        .withColumn("html_converter", F.lit("strip"))
        .withColumn("max_bytes", F.lit(60))
        .withColumn("trafilatura_clean", F.lit(False))
        .withColumn("llm_postprocess", F.lit(True))
        .withColumn("llm_prompt", F.lit("PROMPTTAG den Text bitte"))
    )
    res = eng.run()

    fetched = {
        r["url"]: r for r in res.fetch_log
        .filter("outcome = 'fetched'").collect()
    }
    conv = {r["url"]: r for r in res.conversions.collect()}
    assert conv

    html_urls = [
        u for u, r in fetched.items()
        if (r["content_type"] or "").startswith("text/html") and u in conv
    ]
    assert html_urls
    # forced tier reaches EVERY html conversion (depth 0 and children);
    # 60-byte payload cap kills the kmap gate, so no kmap override
    assert all(conv[u]["converter_used"] == "strip" for u in html_urls)
    # per-request max_bytes=60 truncates every minted html payload
    assert all(conv[u]["truncated"] for u in html_urls)
    # children (depth >= 1) inherited the overrides, not just seeds
    child_html = [u for u in html_urls if fetched[u]["depth"] >= 1]
    assert child_html, "need inherited children to prove inheritance"
    # the llm_prompt override reaches the LLM stage row-wise: parse-ok
    # transport shapes (page_id % 5 in 0..2) lead with the prompt tag
    tagged = [
        r for r in res.conversions.collect()
        if r["llm"] is not None and r["page_id"] % 5 in (0, 1, 2)
    ]
    assert tagged
    assert all(
        r["llm"]["cleaned_markdown"].startswith("PROMPTTAG ")
        for r in tagged
    )
