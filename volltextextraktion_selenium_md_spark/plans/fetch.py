"""Fetch stage: simulated distributed fetch as a lookup join.

The reference fetches one URL per request over the network
(``app/http_fetcher.py:24-87`` fast path; ``app/js_fetcher.py:715-956``
Selenium path). The sandbox engine resolves fetches against the
deterministic `g_pages` graph with a join (FIXTURES.md §2) — exactly
what makes every downstream decision oracle-checkable. A live deploy
replaces `simulated_fetch` with a `mapInPandas` network stage
(`live_fetch`) over an injected transport — `httpx_transport` is the
httpx client; all scheduling, retry, strategy, and conversion logic is
shared.

Outcome semantics (mirrors reference control flow):
- no page row            -> 'missing' (terminal failure)
- status in retryables   -> 'retry' while attempt < retries
                            (reference retry loop app/http_fetcher.py:64-83),
                            else 'failed'
- status >= 400 (other)  -> 'failed' (e.g. 404; non-retryable)
- else                   -> 'fetched' (incl. 301: httpx follows
                            redirects, final_url differs)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.config import (
    COST_MS,
    JS_ACCURACY_EXTRA_MS,
    JS_RENDERER_CAP_MS,
    LLM_COST_MS_BASE,
    LLM_COST_MS_SPAN,
    LLM_COST_MS_STEP,
    PREFLIGHT_CAP_MS,
    RETRYABLE_STATUSES,
    CrawlConfig,
)
from volltextextraktion_selenium_md_spark.functions.classify import (
    classify_strategy,
    route_fetch,
)
from volltextextraktion_selenium_md_spark.functions.mime import pick_user_agent
from volltextextraktion_selenium_md_spark.functions.urls import redirect_flag
from volltextextraktion_selenium_md_spark.schemas import (
    REQUEST_COL_DEFAULTS,
    REQUEST_COLS,
    with_request_cols,
)

# Column-tree memo for the fetch stage's derived expressions. Column
# CONSTRUCTION is driver-side py4j work — the classify CASE chain alone
# costs ~1.9 s to BUILD (measured, local[32] JVM) — and the engine loop
# calls simulated_fetch every round, so rebuilding the trees per round
# dominated the flagship's fixed per-round latency (~2.7 s/round of
# pure expression building). Column objects are immutable and reusable
# across DataFrames; the cache key carries the two cfg values the trees
# embed plus the SparkContext id (a restarted JVM would invalidate the
# cached JVM expression refs).
_SIM_EXPRS_CACHE: dict[tuple, dict] = {}


def _llm_cost_ms(key: Column) -> Column:
    """The modeled LLM postprocess latency (``config.LLM_COST_MS_*``) of
    a fetched row whose request asked for the LLM, else 0; ``key`` is
    the row's deterministic variance source."""
    return F.when(
        F.coalesce(F.col("llm_postprocess"), F.lit(False))
        & (F.col("outcome") == "fetched"),
        F.lit(LLM_COST_MS_BASE)
        + F.pmod(key, F.lit(LLM_COST_MS_SPAN + 1)) * F.lit(LLM_COST_MS_STEP),
    ).otherwise(F.lit(0))


def _sim_exprs(cfg: CrawlConfig) -> dict:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    # stable context identity: a stopped+restarted context can reuse the
    # same id() (the old object gets GC'd), which would hand back cached
    # Column trees holding py4j refs into the torn-down gateway;
    # applicationId+startTime are unique per context lifetime
    ctx_key = (sc.applicationId, sc.startTime) if sc is not None else None
    key = (ctx_key, cfg.timeout_ms, cfg.retries)
    cached = _SIM_EXPRS_CACHE.get(key)
    if cached is not None:
        return cached

    # per-request mode dispatch (reference schemas.py:85-104, dispatch
    # app/main.py:315-371): preflight classification only runs in
    # 'auto' mode — fast goes straight to httpx, js straight to
    # Selenium; the route column reflects all three branches
    strategy_raw = classify_strategy(
        F.col("content_type"), F.coalesce(F.col("final_url"), F.col("url")),
        F.col("text_len"), F.col("has_main"), F.col("spa_mark"),
        F.col("js_required"), F.col("consent"), F.col("bot_wall"),
        F.col("rss_link"), F.col("youtube"),
    )
    strategy = F.col("strategy")
    route_expr = route_fetch(F.col("mode"), strategy, F.col("text_len"))
    route = F.col("route")

    # cost model: strategy latency midpoints (README.md:223,362-363) +
    # the politeness slot offset; replaces wall-clock with a
    # deterministic charge so throughput is measurable and replayable.
    # A second-chance miss (HTTP_THEN_JS routed to Selenium) pays the
    # JS refetch on top of the preflight it already ran (main.py:
    # 351-371). fast mode charges the plain httpx fetch, js mode the
    # Selenium render — neither pays a preflight
    base_cost = F.lit(None).cast("int")
    for strat, ms in COST_MS.items():
        base_cost = F.when(strategy == strat, ms).otherwise(base_cost)
    base_cost = F.when(
        (strategy == "HTTP_THEN_JS") & (route == "selenium"),
        COST_MS["HTTP_THEN_JS"] + COST_MS["JS_LIGHT"],
    ).otherwise(base_cost)
    base_cost = (
        F.when(F.col("mode") == "fast", F.lit(COST_MS["HTTP_ONLY"]))
        .when(F.col("mode") == "js", F.lit(COST_MS["JS_LIGHT"]))
        .otherwise(base_cost)
    )
    cost = F.col("_base_cost")

    # js_strategy (reference speed/accuracy Selenium pools,
    # app/js_fetcher.py:201-202; latency bands README 2-6 s vs 8-12 s):
    # an 'accuracy' request pays the slower pool's surcharge whenever a
    # Selenium render actually happens — js mode, auto-routed
    # JS_LIGHT(_CONSENT), an HTTP_THEN_JS second-chance miss, or a
    # BLOCKED bot wall's Selenium refetch (the wall is detected only
    # AFTER the render attempt, so the render cost is real).
    blocked_render = (
        ((F.col("mode") == "auto") & (strategy == "BLOCKED"))
        | ((F.col("mode") == "js") & F.coalesce(F.col("bot_wall"), F.lit(False)))
    )
    renders_selenium = (
        (F.col("mode") == "js")
        | ((F.col("mode") == "auto") & strategy.isin("JS_LIGHT", "JS_LIGHT_CONSENT"))
        | (
            (F.col("mode") == "auto")
            & (strategy == "HTTP_THEN_JS")
            & (route == "selenium")
        )
        | blocked_render
    )
    # a present-but-NULL js_strategy is the default pool, as an absent
    # one is (with_request_cols only backfills absent columns)
    accuracy = F.coalesce(
        F.col("js_strategy"), F.lit(REQUEST_COL_DEFAULTS["js_strategy"][1])
    ) == "accuracy"
    # speed->accuracy failure ladder (reference app/js_fetcher.py:
    # 896-946): a SPEED render that hits the renderer timeout (early
    # path) or exhausts retries — which a bot wall always does
    # (:933-946) — escalates ONCE to a fresh accuracy-pool driver.
    # Deterministic twin: a speed-pool Selenium render whose modeled
    # latency exceeds JS_RENDERER_CAP_MS, or whose strategy is
    # BLOCKED, pays the one-shot accuracy surcharge and records the
    # escalation; the per-request timeout then judges the TOTAL cost,
    # so an escalation can flip a fetch into the 504 retry path.
    escalated_expr = (
        renders_selenium
        & ~accuracy
        & (blocked_render | (cost > F.lit(JS_RENDERER_CAP_MS)))
    )
    escalated = F.col("_escalated")
    cost_expr = F.when(
        (renders_selenium & accuracy) | escalated,
        cost + F.lit(JS_ACCURACY_EXTRA_MS),
    ).otherwise(cost)
    cost = F.col("_cost")

    # per-request timeout (reference timeout_ms, schemas.py:116-128): a
    # request whose modeled latency exceeds the cap aborts — the 504
    # path (main.py:393-405), which re-enters the retry loop like any
    # transport failure. Evaluated on the request latency only (the
    # crawl-delay slot is queueing, not request time). The request's
    # timeout_ms overrides the config per row; NULL = global (same
    # null-means-default semantics as allow_insecure_ssl).
    req_timeout = F.coalesce(F.col("timeout_ms"), F.lit(cfg.timeout_ms))
    timed_out = F.coalesce(cost, F.lit(0)) > req_timeout
    retryable = (
        F.col("page_status").isin(list(RETRYABLE_STATUSES)) | timed_out
    )
    # per-request retries (reference schemas.py:130-141): the requeue
    # cut compares the attempt counter against THAT row's budget, NULL
    # coalescing to the config default
    req_retries = F.coalesce(F.col("retries"), F.lit(cfg.retries))
    outcome = (
        F.when(F.col("page_id").isNull(), "missing")
        .when(retryable & (F.col("attempt") < req_retries), "retry")
        .when(retryable, "failed")
        .when(F.col("page_status") >= 400, "failed")
        .otherwise("fetched")
    )

    # preflight probe cap (reference app/main.py:329: the auto-mode
    # probe runs with timeout = min(timeout_s, 12); a probe timeout is
    # an httpx.HTTPError, which preflight_analyze maps to strategy
    # BLOCKED — the graceful fall-through to Selenium,
    # app/preflight.py:48-59). Modeled twin: the probe's deterministic
    # latency is the plain httpx charge (COST_MS["HTTP_ONLY"]); when it
    # exceeds min(per-request timeout, PREFLIGHT_CAP_MS) the
    # classification never runs and the row takes the BLOCKED ladder
    # (Selenium render + escalation/accuracy surcharges).
    probe_trip = F.lit(COST_MS["HTTP_ONLY"]) > F.least(
        req_timeout, F.lit(PREFLIGHT_CAP_MS)
    )
    exprs = {
        "strategy_when_auto": F.when(
            (F.col("mode") == "auto") & probe_trip, F.lit("BLOCKED")
        ).when(
            F.col("mode") == "auto", strategy_raw
        ),
        "route": route_expr,
        "base_cost": base_cost,
        "escalated": escalated_expr,
        "cost": cost_expr,
        "outcome": outcome,
        "strategy_guard": F.when(F.col("page_id").isNotNull(), strategy),
        "route_guard": F.when(F.col("page_id").isNotNull(), route),
        "escalated_guard": F.when(F.col("page_id").isNotNull(), escalated),
        "user_agent": pick_user_agent(F.col("url")),
        "redirected": F.when(
            F.col("final_url").isNotNull(),
            redirect_flag(F.col("url"), F.col("final_url")),
        ),
        "elapsed_ms": (
            F.coalesce(cost, F.lit(0))
            + F.coalesce(F.col("sched_slot_ms"), F.lit(0))
            # modeled LLM latency (config.LLM_COST_MS_*: elapsed ONLY,
            # never flips an outcome). Evaluated against the OUTCOME
            # COLUMN, which exists by the time elapsed_ms is attached
            # (simulated_fetch ordering) — re-inlining the outcome CASE
            # here would double the codegen size for nothing.
            + _llm_cost_ms(F.col("page_id"))
        ).cast("int"),
    }
    _SIM_EXPRS_CACHE[key] = exprs
    return exprs


def simulated_fetch(
    admitted: DataFrame,
    pages: DataFrame,
    cfg: CrawlConfig,
    mirror_span: int = 0,
    mirrors: int = 0,
) -> DataFrame:
    """Resolve admitted frontier rows against the page corpus.

    Join is equi on the canonical url: at 10^10 scale both sides hash-
    partition on the key; the frontier side is orders of magnitude
    smaller per round, so AQE picks a sensible strategy; no skew
    (url is unique on both sides).

    ``mirror_span > 0``: ``pages`` is the BASE corpus and ``admitted``
    urls live in the R×-mirrored URL space — the join key is the
    mirror-stripped url and the mirror-dependent page attributes
    (page_id offset, final_url host) are re-minted probe-side. Exactly
    equivalent to joining an eagerly mirrored corpus, without ever
    materializing (or re-sorting, every round) R × corpus rows: the
    fetch join stays O(round + base), the bucketed-dim pattern.

    The stage reads the request-column contract: an absent request
    column is backfilled with its REQUEST_COL_DEFAULTS value at entry
    (schemas.with_request_cols), and the derived expressions read
    ``mode``, ``js_strategy``, ``timeout_ms``, ``retries`` and
    ``llm_postprocess`` unconditionally."""
    admitted = with_request_cols(admitted)
    join_key = "url"
    if mirror_span > 0:
        from volltextextraktion_selenium_md_spark import graph as _graph

        join_key = "_burl"
        admitted = admitted.withColumn(
            "_mir", _graph.extract_mirror(F.col("url"))
        ).withColumn(
            # a url with no (or an out-of-range) mirror token exists in
            # NO copy of the mirrored web: NULL join key -> no match,
            # exactly the eager-mirror join's miss for that row
            "_burl",
            F.when(
                F.col("_mir").isNotNull() & (F.col("_mir") < F.lit(mirrors)),
                _graph.strip_mirror(F.col("url")),
            ),
        )
    page_cols = pages.select(
        F.col("url").alias(join_key),
        F.col("page_id"),
        F.col("status").alias("page_status"),
        F.col("final_url"),
        F.col("content_type"),
        "text_len", "has_main", "spa_mark", "js_required",
        "consent", "bot_wall", "rss_link", "youtube",
    )
    # no join-strategy hint, deliberately: at sandbox SF Spark
    # broadcasts the persisted pages relation (a ~1-2 s/round rebuild
    # tax), and forcing SHUFFLE_HASH to "reuse" the pages-side
    # partitioning was measured 2.7x WORSE on the sf0.1 flagship
    # (162 s vs 60 s) — the 600k-row build side is rebuilt per round
    # either way and the cached partitioning does not survive into the
    # AQE-planned join. At the 10^10 design point the lakehouse pages
    # table is bucketed on url and far past any broadcast threshold,
    # so the planner lands on the co-partitioned sort-merge join on
    # its own; the declarative form is right at BOTH scales.
    # (r7 re-audit: a build-LEFT shuffled-hash hint on the frontier
    # side beat the per-round 35 MiB pages BroadcastExchange 3x in an
    # ISOLATED microbench [302 -> 85-110 ms/round], but interleaved
    # fresh-JVM A/B on the real loop measured it consistently SLOWER —
    # flagship 27.1/27.8 s vs 25.6/25.1 s, replay 41.5/62.8 s vs
    # 33.4/37.6 s — the SHJ forces the frontier side through an extra
    # url exchange and re-shapes downstream AQE stages; rejected.)
    joined = admitted.join(page_cols, on=join_key, how="left")
    if mirror_span > 0:
        # re-mint the two mirror-dependent attributes (all others —
        # status, content type, features — are mirror-invariant). A
        # NULL _mir (un-mirrored url) yields NULL page_id -> the same
        # "missing" outcome the eager-mirror join produced for it.
        joined = (
            joined.withColumn(
                "page_id",
                F.col("page_id") + F.col("_mir") * F.lit(mirror_span),
            )
            .withColumn(
                "final_url",
                _graph.insert_mirror(F.col("final_url"), F.col("_mir")),
            )
            .drop("_mir", "_burl")
        )

    # all derived expressions come from the per-(cfg, SparkContext)
    # memo above — the trees embed only fixed column names, and
    # materializing each tier as a REAL column keeps whole-stage
    # codegen under the JVM 64 KB method limit (CollapseProject refuses
    # to duplicate non-cheap expressions, so every CASE chain is
    # generated exactly once; inlining them instead silently fell back
    # to interpreted eval — 10 "Code grows beyond 64 KB" per run)
    ex = _sim_exprs(cfg)
    joined = (
        joined.withColumn("strategy", ex["strategy_when_auto"])
        .withColumn("route", ex["route"])
        .withColumn("_base_cost", ex["base_cost"])
        .withColumn("_escalated", ex["escalated"])
        .withColumn("_cost", ex["cost"])
    )
    return (
        joined.withColumn("strategy", ex["strategy_guard"])
        .withColumn("route", ex["route_guard"])
        .withColumn("js_escalated", ex["escalated_guard"])
        .drop("_base_cost", "_escalated")
        .withColumn("outcome", ex["outcome"])
        .withColumn("user_agent", ex["user_agent"])
        .withColumn("redirected", ex["redirected"])
        .withColumn("elapsed_ms", ex["elapsed_ms"])
        .drop("_cost")
    )


LIVE_FETCH_SCHEMA = (
    "url string, host string, depth int, lineage string, attempt int, "
    "user_agent string, status_code int, final_url string, payload binary, "
    "content_type string, truncated boolean, attempts_used int, "
    "backoff_ms int, error string, partition_id int"
)

# browser header fingerprint the reference sends with every request
# (app/http_fetcher.py:10-21 DEFAULT_HEADERS)
DEFAULT_HEADERS = {
    "Accept": "text/html,application/xhtml+xml,application/xml;q=0.9,"
              "image/avif,image/webp,*/*;q=0.8",
    "Accept-Language": "de-DE,de;q=0.9,en-US;q=0.8,en;q=0.7",
    "Cache-Control": "no-cache",
    "Pragma": "no-cache",
    "Upgrade-Insecure-Requests": "1",
    "Sec-Fetch-Dest": "document",
    "Sec-Fetch-Mode": "navigate",
    "Sec-Fetch-Site": "none",
    "Sec-Fetch-User": "?1",
}


def live_decisions(fetched: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Decision columns for LIVE fetch output — the reference's post-
    fetch pipeline over real payload bytes instead of graph columns:

    - preflight features re-derived from the body
      (``functions/features.py`` ≙ ``app/preflight.py:99-110``); the
      strategy/route cascade then runs on those REAL features — this is
      more faithful than the simulated path, which reads the graph's
      minted feature bits
    - outcome reconciles the two retry layers: transport exceptions
      were already retried in-partition (``http_fetcher.py:64-83``);
      an exhausted transport is a terminal 'failed' (main.py's 502/504
      translation), while retryable HTTP STATUSES (500/502/503/504
      responses) re-queue through the round loop exactly like the
      simulated path
    - elapsed_ms = backoff slots + politeness slot (deterministic; real
      wall latency is not replayable)

    Reads the request columns ``mode``, ``retries`` and
    ``llm_postprocess`` from ``fetched``: ``live_fetch`` must pass them
    through (the engine passes every REQUEST_COL).
    """
    from volltextextraktion_selenium_md_spark.functions.features import (
        extract_features_stage,
    )

    html_ok = (
        F.col("error").isNull()
        & F.col("content_type").startswith("text/html")
        & (F.coalesce(F.col("status_code"), F.lit(599)) < 400)
    )
    with_html = fetched.withColumn(
        "html", F.when(html_ok, F.col("payload").cast("string")).otherwise(F.lit(""))
    )
    feats = extract_features_stage(
        with_html, html_col="html",
        keep=[c for c in with_html.columns if c != "html"],
    )

    youtube = F.coalesce(F.col("final_url"), F.col("url")).rlike(
        r"(youtube\.com|youtu\.be)"
    )
    strategy_raw = classify_strategy(
        F.col("content_type"), F.coalesce(F.col("final_url"), F.col("url")),
        F.col("text_len"), F.col("has_main"), F.col("spa_mark"),
        F.col("js_required"), F.col("consent"), F.col("bot_wall"),
        F.col("rss_link"), youtube,
    )
    strategy = F.when(
        (F.col("mode") == "auto") & F.col("error").isNull(), strategy_raw
    )
    route = route_fetch(F.col("mode"), strategy, F.col("text_len"))

    retryable = F.col("status_code").isin(list(RETRYABLE_STATUSES))
    # per-request retries must gate the ROUND-LOOP requeue too, not just
    # the in-partition transport loop — otherwise a live retries=0 row
    # with a retryable status requeues, diverging from the simulated
    # path / oracle / replay which all coalesce the per-row budget
    req_retries = F.coalesce(F.col("retries"), F.lit(cfg.retries))
    outcome = (
        F.when(F.col("error").isNotNull(), "failed")
        .when(retryable & (F.col("attempt") < req_retries), "retry")
        .when(retryable, "failed")
        .when(F.col("status_code") >= 400, "failed")
        .otherwise("fetched")
    )

    return (
        feats.withColumn("outcome", outcome)
        .withColumn("strategy", strategy)
        .withColumn("route", F.when(F.col("error").isNull(), route))
        .withColumn("page_id", F.lit(None).cast("long"))
        .withColumn("page_status", F.col("status_code"))
        .withColumn(
            "redirected",
            F.when(
                F.col("final_url").isNotNull(),
                redirect_flag(F.col("url"), F.col("final_url")),
            ),
        )
        .withColumn(
            "elapsed_ms",
            (
                F.coalesce(F.col("backoff_ms"), F.lit(0))
                + F.coalesce(F.col("sched_slot_ms"), F.lit(0))
                # modeled LLM latency (reference main.py:466, +2-10 s):
                # live rows have no page_id, so the deterministic
                # variance source is the url hash — replay-stable,
                # never outcome-flipping (elapsed only)
                + _llm_cost_ms(F.xxhash64(F.col("url")))
            ).cast("int"),
        )
    )


# parent columns a fetched page hands to its child links: the request
# settings ride as p_<col> with their shared types (schemas.py)
LINKS_SCHEMA = ", ".join([
    "p_url string", "p_depth int", "p_lineage string", "p_priority int",
    "p_mode string",
    *[f"p_{c} {dtype}" for c, (dtype, _) in REQUEST_COL_DEFAULTS.items()],
    "doc_pos int", "raw_url string", "text string",
])


def links_from_payloads(parents: DataFrame, next_round: int) -> DataFrame:
    """Child frontier rows extracted from fetched PAYLOAD bytes
    (reference ``extract_links_detailed_from_html``,
    ``app/utils.py:126-155``): anchors in document order, absolutized
    against the final URL, lineage = parent_lineage.doc_pos — the same
    shape the simulated graph join produces, so everything downstream
    (first-seen dedup, seen anti-join, ordering) is shared code."""
    import pandas as pd

    from volltextextraktion_selenium_md_spark.functions.lineage import (
        DOC_POS_WIDTH,
        segment_col,
    )
    from volltextextraktion_selenium_md_spark.functions.urls import (
        canonicalize_url,
        extract_links_one,
        url_host,
    )

    def explode_links(batches):
        for pdf in batches:
            rows = {k: [] for k in (
                "p_url", "p_depth", "p_lineage", "p_priority",
                *[f"p_{c}" for c in REQUEST_COLS],
                "doc_pos", "raw_url", "text")}
            for r in pdf.to_dict("records"):
                payload = r["payload"]
                if payload is None:
                    continue
                base = r["final_url"] or r["url"]
                html = bytes(payload).decode("utf-8", errors="replace")
                for pos, absolute, text in extract_links_one(html, base):
                    rows["p_url"].append(r["url"])
                    rows["p_depth"].append(r["depth"])
                    rows["p_lineage"].append(r["lineage"])
                    rows["p_priority"].append(r["priority"])
                    for c in REQUEST_COLS:
                        rows[f"p_{c}"].append(r.get(c))
                    rows["doc_pos"].append(pos)
                    rows["raw_url"].append(absolute)
                    rows["text"].append(text)
            yield pd.DataFrame(rows)

    links = parents.mapInPandas(explode_links, schema=LINKS_SCHEMA)
    canon = links.select(
        canonicalize_url(F.col("raw_url")).alias("url"),
        (F.col("p_depth") + 1).alias("depth"),
        F.concat(
            F.col("p_lineage"), F.lit("."),
            segment_col(F.col("doc_pos"), DOC_POS_WIDTH),
        ).alias("lineage"),
        F.col("p_priority").alias("priority"),
        *[F.col(f"p_{c}").alias(c) for c in REQUEST_COLS],
        F.lit(0).alias("attempt"),
        F.lit(next_round).alias("round_added"),
    )
    return canon.select(
        "url", url_host(F.col("url")).alias("host"), "depth", "lineage",
        "priority", *REQUEST_COLS, "attempt", "round_added",
    )


def httpx_transport():
    """The network transport factory for a live crawl (pass it as
    ``transport_factory``): one httpx client PER (THREAD, proxy, verify) —
    keep-alive/connection reuse like the reference's AsyncClient with
    max_keepalive_connections=4 (http_fetcher.py:39-52), safe under the
    stage's intra-partition thread pool. Parity details (round-2
    ADVICE): the full browser DEFAULT_HEADERS set is sent, the cookie
    jar is cleared before every request (the reference builds a fresh
    AsyncClient — fresh jar — per request), and all clients close when
    the partition's iterator is exhausted (``call.close``). Per-request
    ``proxy`` / ``verify`` mirror the reference's client construction
    (``app/http_fetcher.py:45-53``: proxy= when configured, verify=
    not allow_insecure_ssl); clients are keyed on the pair so mixed
    frontiers don't rebuild connections per row."""
    import threading

    try:
        import httpx
    except ImportError as exc:
        raise NotImplementedError(
            "httpx_transport requires httpx; inject another transport "
            "or use the simulated fetch"
        ) from exc

    local = threading.local()
    clients: list = []
    lock = threading.Lock()

    def _client(proxy: str | None, verify: bool):
        cmap = getattr(local, "clients", None)
        if cmap is None:
            cmap = local.clients = {}
        key = (proxy, verify)
        c = cmap.get(key)
        if c is None:
            kwargs = dict(follow_redirects=True, http2=True, verify=verify)
            if proxy:
                kwargs["proxy"] = proxy
            c = httpx.Client(**kwargs)
            cmap[key] = c
            with lock:
                clients.append(c)
        return c

    def call(
        url: str, user_agent: str, timeout_s: float, max_bytes: int,
        proxy: str | None = None, verify: bool = True,
    ):
        client = _client(proxy, verify)
        client.cookies.clear()  # per-request fresh jar (reference parity)
        with client.stream(
            "GET", url,
            headers={**DEFAULT_HEADERS, "User-Agent": user_agent},
            timeout=timeout_s,
        ) as resp:
            buf = bytearray()
            for chunk in resp.iter_bytes():
                buf.extend(chunk)
                if len(buf) > max_bytes:  # stream cut, don't buffer the body
                    break
            return (
                resp.status_code,
                str(resp.url),
                bytes(buf),
                resp.headers.get("content-type"),
            )

    def close():
        with lock:
            for c in clients:
                c.close()
            clients.clear()

    call.close = close
    return call


def live_fetch(
    admitted: DataFrame,
    cfg: CrawlConfig,
    transport_factory,
    num_partitions: int | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Real network fetch stage behind the flag: salted repartition ->
    mapInPandas with a per-partition client and an intra-partition
    thread pool.

    Faithful to the reference fast path (``http_fetcher.py:24-87``):
    - per-row 5-tuple ``(status, final_url, bytes, ctype, truncated)``
    - retry ONLY on transport exceptions, ``for attempt in
      range(retries+1)`` with ``min(2**attempt, 5)``s backoff
      (``:64-83``) — recorded as a ``backoff_ms`` schedule-slot column,
      never a sleep, so tests and the politeness scheduler stay
      deterministic
    - ``max_bytes`` byte-budget cut + ``truncated`` flag (``:71-79``)
    - retries exhausted -> status NULL + ``error`` (the engine maps it
      to a terminal failure like main.py's 502/504 translation)
    - ``cfg.fetch_concurrency`` requests in flight per partition (the
      reference's async httpx under an 8-slot semaphore,
      ``app/main.py:27-28``): a network-bound crawl must not be capped
      at one in-flight request per core. Each Arrow batch fans out to a
      thread pool; output row ORDER within the batch is preserved, so
      the stage stays deterministic for everything downstream.

    ``transport_factory() -> callable(url, ua, timeout_s, max_bytes,
    proxy=None, verify=True) -> (status, final_url, bytes, ctype)`` is
    called once per partition (the callable may carry a ``.close()``
    attribute, called when the partition is exhausted);
    ``httpx_transport`` is the network client.

    The stage reads the request-column contract: an absent request
    column is backfilled with its REQUEST_COL_DEFAULTS value at entry
    (schemas.with_request_cols). Each row's ``proxy``,
    ``allow_insecure_ssl``, ``timeout_ms``, ``max_bytes`` and
    ``retries`` (reference ``app/schemas.py:105-170``) reach the
    transport, and a NULL one resolves to the config value
    (``cfg.timeout_ms`` defaults to the reference's 30 s). The proxy is
    normalized with the P1 operator first, so a placeholder or unknown
    scheme counts as NULL too. Hot hosts are salted across partitions
    FIRST — this stage really does one network call per row, so a Zipf
    host would otherwise pin one executor. ``passthrough`` columns ride
    along untouched (the engine passes priority, the request columns,
    h1/h2 and the slot)."""
    import pandas as pd

    from volltextextraktion_selenium_md_spark.functions.mime import normalize_proxy
    from volltextextraktion_selenium_md_spark.operators.politeness import (
        salted_repartition,
    )

    admitted = with_request_cols(admitted)
    nparts = num_partitions or int(
        admitted.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    salted = salted_repartition(admitted, nparts)
    salted = salted.withColumn("user_agent", pick_user_agent(F.col("url")))
    # the request's transport settings, each NULL resolving to the
    # config value (reference http_fetcher.py:43, README "null nutzt
    # .env"); the proxy is P1-normalized on both sides first, so a
    # placeholder ''/'string' request proxy falls back to cfg.proxy.
    # timeout_ms is converted to the transport's seconds unit here.
    salted = salted.select(
        "*",
        F.coalesce(
            normalize_proxy(F.col("proxy")),
            normalize_proxy(F.lit(cfg.proxy).cast("string")),
        ).alias("_proxy"),
        F.coalesce(
            F.col("allow_insecure_ssl"), F.lit(bool(cfg.allow_insecure_ssl))
        ).alias("_insecure"),
        (
            F.coalesce(F.col("timeout_ms"), F.lit(int(cfg.timeout_ms)))
            .cast("double") / F.lit(1000.0)
        ).alias("_timeout_s"),
        # the body cap governs both the transport's read cap and the
        # stream cut (reference max_bytes, schemas.py:156-170); retries
        # is the in-partition transport budget (schemas.py:130-141,
        # retry loop http_fetcher.py:64-83)
        F.coalesce(F.col("max_bytes"), F.lit(int(cfg.max_bytes)))
        .cast("long").alias("_max_bytes"),
        F.coalesce(F.col("retries"), F.lit(int(cfg.retries)))
        .cast("int").alias("_retries"),
    )
    pool_size = max(int(cfg.fetch_concurrency), 1)
    passthrough = list(passthrough or [])
    keep = ["url", "host", "depth", "lineage", "attempt", "user_agent"] + passthrough
    # transport inputs, not emitted
    keep_in = keep + ["_proxy", "_insecure", "_timeout_s", "_max_bytes", "_retries"]

    def run(batches):
        from concurrent.futures import ThreadPoolExecutor

        transport = transport_factory()  # one client per partition

        def fetch_one(row):
            status = final_url = ctype = None
            data = b""
            backoff_ms = 0
            used = 0
            err = None
            row_max = int(row["_max_bytes"])
            for attempt in range(int(row["_retries"]) + 1):
                used = attempt + 1
                try:
                    status, final_url, data, ctype = transport(
                        row["url"], row["user_agent"],
                        float(row["_timeout_s"]), row_max,
                        proxy=row["_proxy"],
                        verify=not bool(row["_insecure"]),
                    )
                    err = None
                    break
                except Exception as exc:  # retry on transport errors only
                    err = f"{type(exc).__name__}: {exc}"
                    backoff_ms += min(2 ** attempt, 5) * 1000
            truncated = len(data) > row_max
            if truncated:
                data = data[:row_max]
            return (status, final_url, data if err is None else None, ctype,
                    truncated, used, backoff_ms, err)

        try:
            with ThreadPoolExecutor(max_workers=pool_size) as pool:
                for pdf in batches:
                    rows = pdf.to_dict("records")
                    # pool.map preserves input order — per-row results
                    # land in frontier order regardless of completion
                    # order, keeping the stage deterministic
                    results = list(pool.map(fetch_one, rows))
                    out = {k: [r[k] for r in rows] for k in keep}
                    (out["status_code"], out["final_url"], out["payload"],
                     out["content_type"], out["truncated"],
                     out["attempts_used"], out["backoff_ms"], out["error"]) = (
                        [list(col) for col in zip(*results)] if results
                        else [[] for _ in range(8)]
                    )
                    res = pd.DataFrame(out)
                    res["status_code"] = pd.array(out["status_code"], dtype="Int32")
                    yield res
        finally:
            close = getattr(transport, "close", None)
            if close is not None:
                close()

    import pyspark.sql.functions as SF

    pt_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in salted.schema.fields if f.name in passthrough
    )
    return salted.select(*keep_in).mapInPandas(
        run, schema=LIVE_FETCH_SCHEMA.replace(", partition_id int", "") + pt_schema
    ).withColumn("partition_id", SF.spark_partition_id())
