"""Single-threaded golden replay of the implied reference crawl loop.

Independent oracle for the Spark engine (SURVEY §5.3): loads the SAME
synthetic graph through DuckDB (same SQL text as the engine's temp
views), then runs the loop with plain Python dicts/lists — FIFO seeds,
document-order link emission (reference ``app/utils.py:39-55``),
first-seen dedup, per-host budget rank cut, robots prefix rules, retry
re-queue. The Spark engine's (round, depth, lineage)-ordered decisions
and final seen set must match this exactly.

Deliberately shares only two pure scalars with the engine:
`canonicalize_one` (golden-pair tested on its own) and the lineage
`segment` encoding (property-tested against the engine's Column form),
plus the settings it reads as values — `CrawlConfig`, the strategy cuts
and the modeled cost constants; all loop logic is written twice.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import urlsplit

import duckdb

from volltextextraktion_selenium_md_spark.config import (
    COST_MS,
    JS_ACCURACY_EXTRA_MS,
    JS_RENDERER_CAP_MS,
    PREFLIGHT_CAP_MS,
    RETRYABLE_STATUSES,
    CrawlConfig,
)
from volltextextraktion_selenium_md_spark.functions.classify import (
    HTTP_ONLY_TEXT_LEN,
    JS_LIGHT_THIN_TEXT_LEN,
    SECOND_CHANCE_TEXT_LEN,
)
from volltextextraktion_selenium_md_spark.graph import BASE_TABLES, GRAPH_VIEWS
from volltextextraktion_selenium_md_spark.functions.lineage import (
    DOC_POS_WIDTH,
    SEED_WIDTH,
    segment,
)
from volltextextraktion_selenium_md_spark.functions.urls import canonicalize_one


@dataclass
class ReplayResult:
    crawl_order: list[dict]   # ordinal, round, url, depth, lineage, attempt, outcome
    seen: set[str]
    blocked: list[str]
    rounds: int


def _load_graph(sf_dir: str) -> tuple[dict, dict, list, dict]:
    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name, body in GRAPH_VIEWS.items():
        con.execute(f"CREATE VIEW {name} AS {body}")

    page_cols = (
        "url", "page_id", "status", "final_url", "content_type", "text_len",
        "has_main", "spa_mark", "js_required", "consent", "bot_wall",
        "rss_link", "youtube",
    )
    pages = {
        r[0]: dict(zip(page_cols[1:], r[1:]))
        for r in con.execute(
            f"SELECT {', '.join(page_cols)} FROM g_pages"
        ).fetchall()
    }
    links: dict[int, list] = {}
    for pid, doc_pos, raw_url, dst_host in con.execute(
        "SELECT src_page_id, doc_pos, raw_url, dst_host FROM g_links "
        "ORDER BY src_page_id, doc_pos"
    ).fetchall():
        links.setdefault(pid, []).append((doc_pos, raw_url, dst_host))
    seeds = [
        dict(zip(_SEED_COLS, r))
        for r in con.execute(
            f"SELECT {', '.join(_SEED_COLS)} FROM g_seeds ORDER BY seed_idx"
        ).fetchall()
    ]
    robots = {
        r[0]: {"disallow_prefix": r[1], "crawl_delay_ms": r[2]}
        for r in con.execute(
            "SELECT host, disallow_prefix, crawl_delay_ms FROM g_robots"
        ).fetchall()
    }
    con.close()
    return pages, links, seeds, robots


# full per-request surface a crawl row carries (an independent copy of
# schemas.py REQUEST_COLS; tests/test_engine_surface.py pins the two
# equal): the loop's decisions read
# mode/js_strategy/timeout_ms/retries/extract_links; the rest
# (llm flags, converter overrides, transport settings) ride untouched
# so recompute tests can resolve conversion/LLM behavior per lineage
_REQ_COLS = (
    "mode", "js_strategy", "llm_anonymize", "timeout_ms", "retries",
    "llm_postprocess", "extract_links", "html_converter", "media_policy",
    "max_bytes", "trafilatura_clean", "proxy", "allow_insecure_ssl",
    "llm_prompt",
)
_SEED_COLS = ("seed_idx", "priority", "raw_url") + _REQ_COLS


def _strategy(page: dict) -> str:
    """Pure-python preflight cascade (independent twin of
    functions/classify.py:classify_strategy; reference preflight
    ``app/preflight.py:61-124`` — branch order is the contract)."""
    ctype = (page["content_type"] or "").lower()
    if ctype.startswith("application/pdf") or page["final_url"].lower().endswith(".pdf"):
        return "PDF"
    if "application/rss" in ctype or "application/atom+xml" in ctype:
        return "RSS"
    if page["bot_wall"]:
        return "BLOCKED"
    if page["youtube"]:
        return "YOUTUBE"
    if page["rss_link"]:
        return "RSS"
    if (
        page["text_len"] >= HTTP_ONLY_TEXT_LEN
        and (page["has_main"] or not page["spa_mark"])
        and not page["js_required"]
        and not page["consent"]
    ):
        return "HTTP_ONLY"
    if (
        page["spa_mark"]
        or (page["has_main"] and page["text_len"] < JS_LIGHT_THIN_TEXT_LEN)
        or page["js_required"]
        or page["consent"]
    ):
        return "JS_LIGHT_CONSENT" if page["consent"] else "JS_LIGHT"
    return "HTTP_THEN_JS"


def _request_cost_ms(
    mode: str, page: dict, cfg: CrawlConfig, js_strategy: str = "speed",
    timeout_ms: int | None = None,
) -> tuple[int, bool]:
    """Modeled request latency (twin of plans/fetch.py's cost column:
    strategy midpoints, second-chance JS surcharge, mode overrides,
    js_strategy accuracy-pool surcharge on any Selenium render, and the
    speed->accuracy failure-ladder escalation, reference
    app/js_fetcher.py:896-946). Returns (cost_ms, js_escalated).

    Mirrors the preflight 12 s cap (reference main.py:329): an
    auto-mode row whose modeled probe charge exceeds
    min(timeout_ms, PREFLIGHT_CAP_MS) never classifies — it takes the
    BLOCKED fall-through to Selenium."""
    accuracy = js_strategy == "accuracy"
    if mode == "fast":
        return COST_MS["HTTP_ONLY"], False
    if mode == "js":
        base = COST_MS["JS_LIGHT"]
        renders, blocked = True, bool(page["bot_wall"])
    else:
        probe_cap = min(
            timeout_ms if timeout_ms is not None else cfg.timeout_ms,
            PREFLIGHT_CAP_MS,
        )
        if COST_MS["HTTP_ONLY"] > probe_cap:
            s = "BLOCKED"
        else:
            s = _strategy(page)
        blocked = s == "BLOCKED"
        if s == "HTTP_THEN_JS" and page["text_len"] < SECOND_CHANCE_TEXT_LEN:
            base = COST_MS["HTTP_THEN_JS"] + COST_MS["JS_LIGHT"]
            renders = True
        else:
            base = COST_MS[s]
            # BLOCKED renders (the wall is detected after the Selenium
            # refetch attempt); PDF/RSS/YOUTUBE/HTTP_ONLY never render
            renders = s in ("JS_LIGHT", "JS_LIGHT_CONSENT") or blocked
    escalated = (
        renders and not accuracy
        and (blocked or base > JS_RENDERER_CAP_MS)
    )
    if (renders and accuracy) or escalated:
        return base + JS_ACCURACY_EXTRA_MS, escalated
    return base, escalated


def replay_crawl(
    sf_dir: str,
    cfg: CrawlConfig | None = None,
    seeds: list[dict] | None = None,
    initial_seen: set[str] | None = None,
    start_round: int = 0,
) -> ReplayResult:
    """Golden single-threaded crawl. The optional parameters are the
    SERVICE-mode twin (CrawlEngine(new_seeds=...) on a resumed store):
    ``seeds`` replaces the graph seed list with an explicit batch of
    request dicts (_SEED_COLS keys), ``initial_seen`` carries the seen
    set of the previous batches (requests already extracted are
    dropped, exactly the engine's anti-join fast path), and
    ``start_round`` continues the round numbering so the concatenated
    logs of sequential batches are directly comparable to the engine's
    cumulative fetch log."""
    cfg = cfg or CrawlConfig()
    pages, links, graph_seeds, robots = _load_graph(sf_dir)
    if seeds is None:
        seeds = graph_seeds

    # round 0 init: canonicalize seeds, first-seen dedup in seed order
    frontier: list[dict] = []
    seen: set[str] = set(initial_seen or ())
    for s in seeds:
        url = canonicalize_one(s["raw_url"])
        if url in seen:
            continue
        seen.add(url)
        frontier.append({
            "url": url,
            "host": urlsplit(url).hostname,
            "depth": 0,
            "lineage": segment(s["seed_idx"], SEED_WIDTH),
            "priority": s["priority"],
            **{c: s[c] for c in _REQ_COLS},
            "attempt": 0,
        })

    crawl_order: list[dict] = []
    blocked_log: list[str] = []
    rnd = start_round
    while frontier and rnd < start_round + cfg.max_rounds:
        frontier.sort(key=lambda r: (r["depth"], r["lineage"]))
        next_frontier: list[dict] = []
        children: list[dict] = []
        host_counts: dict[str, int] = {}

        for row in frontier:
            rule = robots.get(row["host"])
            if rule and rule["disallow_prefix"]:
                path = urlsplit(row["url"]).path
                if path.startswith(rule["disallow_prefix"]):
                    blocked_log.append(row["url"])
                    continue

            host_counts[row["host"]] = host_counts.get(row["host"], 0) + 1
            if host_counts[row["host"]] > cfg.host_budget_per_round:
                next_frontier.append(row)  # deferred, unchanged
                continue

            if cfg.round_time_budget_ms is not None:
                # round time budget: slot = admitted-position * delay;
                # slots at/past the budget miss the round's crawl window.
                # coalesce semantics (round-3 ADVICE): only a NULL rule
                # delay falls back to the default — a legitimate
                # crawl_delay_ms == 0 must stay 0, matching the engine
                # (schedule_slots) and the DuckDB oracle
                delay = (rule or {}).get("crawl_delay_ms")
                if delay is None:
                    delay = cfg.default_crawl_delay_ms
                slot = (host_counts[row["host"]] - 1) * delay
                if slot >= cfg.round_time_budget_ms:
                    next_frontier.append(row)  # deferred, unchanged
                    continue

            page = pages.get(row["url"])
            if page is None:
                outcome, escalated = "missing", None
            else:
                cost, escalated = _request_cost_ms(
                    row["mode"], page, cfg, row["js_strategy"],
                    row.get("timeout_ms"),
                )
                # per-request timeout_ms overrides the config (NULL =
                # global), mirroring plans/fetch.py's coalesce
                cap = row.get("timeout_ms")
                timed_out = cost > (cap if cap is not None else cfg.timeout_ms)
                if page["status"] in RETRYABLE_STATUSES or timed_out:
                    # per-request retry budget (NULL = config), same
                    # coalesce as plans/fetch.py's req_retries
                    budget = row.get("retries")
                    if budget is None:
                        budget = cfg.retries
                    outcome = "retry" if row["attempt"] < budget else "failed"
                elif page["status"] >= 400:
                    outcome = "failed"
                else:
                    outcome = "fetched"

            crawl_order.append({
                "round": rnd,
                "url": row["url"],
                "depth": row["depth"],
                "lineage": row["lineage"],
                # the full inherited request surface rides on every
                # decision row so recompute tests can resolve the
                # convert/LLM stages with THAT lineage's settings
                **{c: row.get(c) for c in _REQ_COLS},
                "attempt": row["attempt"],
                "outcome": outcome,
                "js_escalated": escalated,
            })

            if outcome == "retry":
                next_frontier.append({**row, "attempt": row["attempt"] + 1})
            elif (
                outcome == "fetched"
                and page["content_type"].startswith("text/html")
                and row["depth"] < cfg.max_depth
                # per-request extract_links gate: False = leaf (NULL /
                # absent = crawl default, expand) — plans/frontier.py
                and row.get("extract_links") is not False
            ):
                for doc_pos, raw_url, dst_host in links.get(page["page_id"], []):
                    children.append({
                        "url": canonicalize_one(raw_url),
                        "host": dst_host,
                        "depth": row["depth"] + 1,
                        "lineage": f"{row['lineage']}."
                                   f"{segment(doc_pos, DOC_POS_WIDTH)}",
                        "priority": row["priority"],
                        # children re-POST with the parent request's
                        # FULL settings (reference dispatch is
                        # per-request, schemas.py:85-104) — every
                        # request column inherits, including the
                        # convert/LLM/transport overrides
                        **{c: row.get(c) for c in _REQ_COLS},
                        "attempt": 0,
                    })

        # first-seen dedup of this round's children in crawl order,
        # then global seen-set cut
        children.sort(key=lambda r: (r["depth"], r["lineage"]))
        batch_seen: set[str] = set()
        for ch in children:
            if ch["url"] in batch_seen or ch["url"] in seen:
                continue
            batch_seen.add(ch["url"])
            seen.add(ch["url"])
            next_frontier.append(ch)

        frontier = next_frontier
        rnd += 1

    crawl_order.sort(key=lambda r: (r["round"], r["depth"], r["lineage"]))
    for i, row in enumerate(crawl_order, start=1):
        row["ordinal"] = i
    return ReplayResult(
        crawl_order=crawl_order, seen=seen, blocked=blocked_log, rounds=rnd
    )
