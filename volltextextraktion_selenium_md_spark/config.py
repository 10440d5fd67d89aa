"""Engine configuration.

The reference resolves a setting per-request > .env > hard-coded
(``app/config.py:28-76``); each kind of value lives in one layer here:

- per-request: the request columns (``schemas.REQUEST_COLS``); NULL
  resolves to the ``CrawlConfig`` value.
- deployment: ``CrawlConfig``, one frozen dataclass broadcast to
  executors, holding only what a caller or a deployment sets, with the
  reference's defaults (``app/schemas.py:116-169``, ``app/main.py:25-91``).
- hard-coded: module constants — the strategy cuts in
  ``functions/classify.py``, the modeled fetch costs below.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    # BFS shape
    max_depth: int = 2            # admit children with depth <= max_depth
    max_rounds: int = 16          # hard stop; deferred/retry rows extend rounds

    # politeness (reference has a process-global semaphore of 8
    # [app/main.py:27-28]; the engine generalizes to per-host budgets)
    host_budget_per_round: int = 20
    default_crawl_delay_ms: int = 100

    # per-round TIME budget (reference TimeBudget / nav caps,
    # app/js_fetcher.py:689-712,741-742, mapped per SURVEY §4 to a
    # per-round budget column): admitted rows whose crawl-delay slot
    # falls at/after this many ms defer to the next round — the round's
    # crawl window closed before their turn. None = off.
    round_time_budget_ms: int | None = None

    # per-request timeout (reference default 30 s, schemas.py:116-128):
    # a request whose modeled latency exceeds this times out — the 504
    # path, which retries like any transport failure
    timeout_ms: int = 30_000

    # transport-level request options (reference schemas.py:105-115 /
    # http_fetcher.py:45-53): default proxy URL and the SSL-verification
    # toggle. A request's own proxy / allow_insecure_ssl overrides them;
    # a NULL one (or a proxy the P1 normalizer rejects) resolves to
    # these values, as timeout_ms / retries / max_bytes do
    proxy: str | None = None
    allow_insecure_ssl: bool = False

    # retry semantics (reference: for attempt in range(retries+1),
    # backoff min(2**attempt, 5)s [app/http_fetcher.py:64-83])
    retries: int = 1

    # payload caps (reference defaults: max_bytes 10 MiB within
    # [1 KiB, 100 MiB], app/schemas.py:156-169)
    max_bytes: int = 10 * 1024 * 1024

    # audio/video conversion policy (reference
    # media_conversion_policy, schemas.py / converter.py:253-282):
    # skip | none | metadata | full; per-row `media_policy` frontier
    # column overrides when present
    media_policy: str = "skip"

    # in-flight requests per partition in live_fetch (the reference's
    # async httpx under an 8-slot semaphore, app/main.py:27-28) —
    # network-bound crawling must not cap at 1 request per core
    fetch_concurrency: int = 8

    # payload-size multiplier for minted bodies (1 = oracle-checked
    # test scale; scale benchmarks raise it so per-page convert cost is
    # web-realistic — real pages are tens of KB, real images hundreds
    # of KB, the reference pays SECONDS per page [README.md:223])
    payload_scale: int = 1


# --- modeled fetch costs (hard-coded) ---------------------------------

# statuses the round loop re-queues while the request's retry budget
# lasts; any other status >= 400 is a terminal failure
RETRYABLE_STATUSES = (500, 502, 503, 504)

# fetch-stage cost model, ms/page — midpoints of the reference's
# documented latency ranges (README.md:223,362,363; BASELINE.md)
COST_MS = {
    "HTTP_ONLY": 30,
    "HTTP_THEN_JS": 60,
    "JS_LIGHT": 120,
    "JS_LIGHT_CONSENT": 150,
    "PDF": 40,
    "RSS": 20,
    "YOUTUBE": 25,
    "BLOCKED": 10,
}

# auto-mode preflight probe timeout ceiling (reference
# app/main.py:329: probe timeout = min(timeout_s, 12)); a tripped
# probe falls through to the BLOCKED Selenium path
PREFLIGHT_CAP_MS = 12_000

# js_strategy 'accuracy' surcharge, ms: the reference runs two
# Selenium pools (speed vs accuracy, app/js_fetcher.py:201-202)
# with documented latency bands 2-6 s vs 8-12 s (README.md:362-363)
# — midpoint ratio 4:10, so the accuracy pool adds 1.5x the base
# JS_LIGHT charge (120 -> 300) on any request that actually renders
JS_ACCURACY_EXTRA_MS = 180

# speed-pool renderer cap, ms: the failure ladder's trigger. In the
# reference a SPEED render that hits the renderer timeout — or
# exhausts its retries, which a bot wall always does — escalates
# ONCE to a fresh accuracy-pool driver (app/js_fetcher.py:896-946
# early path, :933-946 exhaustion path). The deterministic twin: a
# speed-pool Selenium render whose modeled latency exceeds this cap
# (or whose strategy is BLOCKED) pays the one-shot accuracy
# surcharge and records js_escalated. 160 sits between the plain
# JS_LIGHT render (120/150) and the double-fetch second-chance miss
# (60+120=180), mirroring the reference where only the slow tail of
# speed renders trips the ladder.
JS_RENDERER_CAP_MS = 160

# modeled LLM postprocess latency: the reference's elapsed_ms spans
# the WHOLE request including the LLM call (app/main.py:466; README
# quotes +2-10 s when llm_postprocess is on). Deterministic per-row
# charge = base + (page_id % (span+1)) * step on fetched rows whose
# request asked for the LLM; it rides elapsed_ms ONLY — the
# per-request timeout governs the TRANSPORT (httpx/Selenium timeout
# params), so a slow LLM never 504s the request in the reference
# and never flips outcomes here
LLM_COST_MS_BASE = 2000
LLM_COST_MS_STEP = 1000
LLM_COST_MS_SPAN = 8
