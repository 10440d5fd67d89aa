"""Speed->accuracy failure-ladder escalation in the fetch cost model
(reference app/js_fetcher.py:896-946): a speed-pool Selenium render
over the renderer cap — or a BLOCKED bot-wall refetch, which always
exhausts its retries — pays the one-shot accuracy surcharge and
records js_escalated; the per-request timeout then judges the TOTAL
cost, so an escalation can flip a fetch into the 504 retry path."""

from __future__ import annotations

import pytest

from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.fetch import simulated_fetch

PAGES_SCHEMA = (
    "url string, page_id long, status int, final_url string, "
    "content_type string, text_len int, has_main boolean, "
    "spa_mark boolean, js_required boolean, consent boolean, "
    "bot_wall boolean, rss_link boolean, youtube boolean"
)

FRONTIER_SCHEMA = (
    "url string, mode string, js_strategy string, attempt int, "
    "sched_slot_ms int"
)


def _page(url, pid, *, text_len=600, spa=False, main=False, js=False,
          consent=False, wall=False):
    return (
        url, pid, 200, url, "text/html; charset=utf-8", text_len,
        main, spa, js, consent, wall, False, False,
    )


@pytest.fixture(scope="module")
def fetched_default(spark):
    pages = spark.createDataFrame(
        [
            _page("https://a.example.com/spa", 1, spa=True),        # JS_LIGHT
            _page("https://a.example.com/thin", 2),                 # HTTP_THEN_JS miss
            _page("https://a.example.com/wall", 3, wall=True),      # BLOCKED
        ],
        PAGES_SCHEMA,
    )
    frontier = spark.createDataFrame(
        [
            ("https://a.example.com/spa", "auto", "speed", 0, 0),
            ("https://a.example.com/thin", "auto", "speed", 0, 0),
            ("https://a.example.com/thin", "auto", "accuracy", 0, 0),
            ("https://a.example.com/wall", "auto", "speed", 0, 0),
            ("https://a.example.com/wall", "auto", "accuracy", 0, 0),
            ("https://a.example.com/wall", "js", "speed", 0, 0),
            ("https://a.example.com/wall", "fast", "speed", 0, 0),
        ],
        FRONTIER_SCHEMA,
    )
    rows = simulated_fetch(frontier, pages, CrawlConfig()).collect()
    return {(r["url"].rsplit("/", 1)[-1], r["mode"], r["js_strategy"]): r
            for r in rows}


def test_speed_render_under_cap_does_not_escalate(fetched_default):
    r = fetched_default[("spa", "auto", "speed")]
    assert r["js_escalated"] is False
    assert r["elapsed_ms"] == 120  # plain JS_LIGHT, no surcharge


def test_second_chance_miss_over_cap_escalates(fetched_default):
    # base 60+120=180 > JS_RENDERER_CAP_MS=160 -> one-shot accuracy
    r = fetched_default[("thin", "auto", "speed")]
    assert r["js_escalated"] is True
    assert r["elapsed_ms"] == 180 + 180
    # the accuracy pool pays the same total by CHOICE, not escalation
    r = fetched_default[("thin", "auto", "accuracy")]
    assert r["js_escalated"] is False
    assert r["elapsed_ms"] == 180 + 180


def test_blocked_render_escalates_speed_pool_only(fetched_default):
    # a bot wall always exhausts the speed retries (js_fetcher.py:
    # 933-946) -> escalation; the accuracy pool pays its own surcharge
    r = fetched_default[("wall", "auto", "speed")]
    assert r["js_escalated"] is True
    assert r["elapsed_ms"] == 10 + 180
    r = fetched_default[("wall", "auto", "accuracy")]
    assert r["js_escalated"] is False
    assert r["elapsed_ms"] == 10 + 180
    # js-mode render of a walled page: wall detected after the render
    r = fetched_default[("wall", "js", "speed")]
    assert r["js_escalated"] is True
    assert r["elapsed_ms"] == 120 + 180
    # fast mode never renders, never escalates
    r = fetched_default[("wall", "fast", "speed")]
    assert r["js_escalated"] is False
    assert r["elapsed_ms"] == 30


def test_escalation_can_flip_timeout_outcome(spark):
    """With timeout_ms=200 the ESCALATED second-chance miss (360 ms)
    times out into the retry path while the un-escalated wall
    escalation (190 ms) still fetches — the ladder interacts with the
    504 translation exactly like any transport failure."""
    pages = spark.createDataFrame(
        [_page("https://b.example.com/thin", 1),
         _page("https://b.example.com/wall", 2, wall=True)],
        PAGES_SCHEMA,
    )
    frontier = spark.createDataFrame(
        [("https://b.example.com/thin", "auto", "speed", 0, 0),
         ("https://b.example.com/wall", "auto", "speed", 0, 0)],
        FRONTIER_SCHEMA,
    )
    cfg = CrawlConfig(timeout_ms=200)
    rows = {r["url"].rsplit("/", 1)[-1]: r
            for r in simulated_fetch(frontier, pages, cfg).collect()}
    assert rows["thin"]["outcome"] == "retry"
    assert rows["thin"]["js_escalated"] is True
    assert rows["wall"]["outcome"] == "fetched"
    assert rows["wall"]["js_escalated"] is True


def test_preflight_cap_trip_takes_blocked_fallthrough(spark):
    """Preflight probe cap (reference app/main.py:329: probe timeout =
    min(timeout_s, 12)): an auto-mode request whose per-row timeout_ms
    sits below the modeled probe charge (COST_MS["HTTP_ONLY"] = 30) never
    classifies — preflight_analyze maps the probe timeout to BLOCKED
    (app/preflight.py:48-59) and the row takes the Selenium
    fall-through: strategy BLOCKED, speed-pool escalation, the full
    render+surcharge cost, then the request timeout judges it."""
    pages = spark.createDataFrame(
        [_page("https://a.example.com/ok", 1, text_len=900, main=True)],
        PAGES_SCHEMA,
    )
    frontier = spark.createDataFrame(
        [("https://a.example.com/ok", "auto", "speed", 0, 0, 10),
         ("https://a.example.com/ok", "auto", "speed", 0, 0, None),
         ("https://a.example.com/ok", "fast", "speed", 0, 0, 10)],
        FRONTIER_SCHEMA + ", timeout_ms int",
    )
    rows = {
        (r["mode"], r["timeout_ms"]): r
        for r in simulated_fetch(frontier, pages, CrawlConfig()).collect()
    }
    tripped = rows[("auto", 10)]
    assert tripped["strategy"] == "BLOCKED"
    assert tripped["js_escalated"] is True          # speed wall escalates
    assert tripped["outcome"] == "retry"            # total cost > 10ms cap
    # same page, no override: global 30s cap -> min(30000, 12000) = 12s
    # never trips the 30ms probe; the page classifies HTTP_ONLY
    clean = rows[("auto", None)]
    assert clean["strategy"] == "HTTP_ONLY" and clean["outcome"] == "fetched"
    # fast mode never runs the probe: same 10ms timeout just times out
    # the plain httpx fetch (no BLOCKED, no escalation)
    fast = rows[("fast", 10)]
    assert fast["strategy"] is None and fast["js_escalated"] is False
