"""DuckDB oracle SQL for every oracle-checkable query in
`plans/queries.py`.

Generated programmatically from the SAME constants the Spark side uses
(error-hint list, MIME map, minhash permutation params, simhash bit
count, LSH hyperplane weights), so the two sides cannot drift. Dialect
notes:
- hex->int is `CAST('0x'||substr(md5(x),1,15) AS BIGINT)` here vs
  Spark's `conv(substr(md5(x),1,15),16,10)` — same value.
- DuckDB `regexp_replace` needs the 'g' flag for global; Spark is
  always global.
- count/size/row_number results are CAST to the Spark column types so
  the driver's schema comparison agrees.
"""

from __future__ import annotations

from volltextextraktion_selenium_md_spark.functions.classify import (
    DOWNLOAD_EXTS,
    ERROR_HINTS_HTML,
    ERROR_HINTS_MD,
    NAV_TEXTS,
    SOCIAL_DOMAINS,
)
from volltextextraktion_selenium_md_spark.functions.lineage import (
    DOC_POS_WIDTH,
    SEED_WIDTH,
    segment_sql,
)
from volltextextraktion_selenium_md_spark.functions.mime import MIME_TO_EXT
from volltextextraktion_selenium_md_spark.graph import canon_sql, graph_with_clause
from volltextextraktion_selenium_md_spark.operators.dedup import (
    MINHASH_PRIME,
    SIMHASH_BITS,
    _perm_params,
)
from volltextextraktion_selenium_md_spark.operators.simsearch import hyperplane_weight
from volltextextraktion_selenium_md_spark.plans import queries as Q

# --- shared CTE fragments ----------------------------------------------------

# full per-request surface carried by every frontier row (mirror of
# plans/frontier.py REQUEST_COLS; frontier_init hash-checks them all)
_REQ_SQL_COLS = (
    "mode, js_strategy, llm_anonymize, timeout_ms, retries, "
    "llm_postprocess, extract_links, html_converter, media_policy, "
    "max_bytes, trafilatura_clean, proxy, allow_insecure_ssl, llm_prompt"
)

F_INIT = f"""
SELECT url, host, depth, lineage, priority, {_REQ_SQL_COLS} FROM (
  SELECT canon AS url, host, 0 AS depth, lineage, priority, {_REQ_SQL_COLS},
         row_number() OVER (PARTITION BY canon ORDER BY lineage) AS rn
  FROM (
    SELECT {canon_sql("raw_url")} AS canon, host,
           {segment_sql("seed_idx", SEED_WIDTH)} AS lineage, priority,
           {_REQ_SQL_COLS}
    FROM g_seeds) s0
) s1 WHERE rn = 1
"""

_PATH = "('/page/' || split_part({u}, '/page/', 2))"
_BLOCKED = (
    "(r.disallow_prefix IS NOT NULL AND "
    + _PATH.format(u="f.url")
    + " LIKE r.disallow_prefix || '%')"
)

D1_CAND = f"""
SELECT url, host, depth, lineage FROM (
  SELECT c.*, row_number() OVER (PARTITION BY url ORDER BY depth, lineage) AS rn
  FROM (
    SELECT l.dst_url AS url, l.dst_host AS host, 1 AS depth,
           f.lineage || '.' || {segment_sql("l.doc_pos", DOC_POS_WIDTH)} AS lineage
    FROM f_init f
    JOIN g_pages p ON p.url = f.url
         AND p.status < 400 AND p.content_type LIKE 'text/html%'
    JOIN g_links l ON l.src_page_id = p.page_id
  ) c
) d WHERE rn = 1
"""

_HEX15 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

_TOKS = "str_split_regex(lower(trim(text)), '\\s+')"


# hashed shingle set, deduplicated AFTER hashing — mirrors the engine's
# shingles(hashed=True) exactly (operators/dedup.py): per doc the hash
# SET equals hashing the distinct strings, so MinHash minima are
# bit-identical and Jaccard matches up to a 60-bit collision
def shingle_h(src: str = "documents") -> str:
    """Hashed-shingle CTE body over any (doc_id, text) relation."""
    return f"""
SELECT DISTINCT doc_id, {_HEX15.format(x="shingle")} AS h
FROM (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(a)-1, 1)),
                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
  FROM (SELECT doc_id, {_TOKS} AS a FROM {src})
)
"""


SHINGLE_H = shingle_h()


def _with(extra: dict[str, str]) -> str:
    return graph_with_clause(extra)


# --- frontier / engine-step oracles ------------------------------------------

def sql_frontier_init() -> str:
    return _with({"f_init": F_INIT}) + "\nSELECT * FROM f_init"


def sql_canonicalize_urls() -> str:
    return (
        _with({})
        + f"""
SELECT raw_url, {canon_sql("raw_url")} AS url FROM
(SELECT raw_url FROM g_seeds UNION SELECT raw_url FROM g_links) u
"""
    )


def sql_seen_anti_join() -> str:
    return (
        _with({"f_init": F_INIT})
        + """
SELECT c.url FROM (
  SELECT DISTINCT l.dst_url AS url FROM g_links l
  JOIN (SELECT DISTINCT dst_page_id FROM g_seeds) sp
       ON l.src_page_id = sp.dst_page_id
) c WHERE NOT EXISTS (SELECT 1 FROM f_init f WHERE f.url = c.url)
"""
    )


def sql_link_explode() -> str:
    return (
        _with({})
        + """
SELECT l.src_page_id, l.doc_pos, l.raw_url, l.text FROM g_links l
JOIN (SELECT DISTINCT dst_page_id FROM g_seeds) sp
     ON l.src_page_id = sp.dst_page_id
"""
    )


def sql_extract_links() -> str:
    """Expected extraction for every minted seed-page HTML: exactly the
    g_links rows (the mint embeds each link as an anchor in doc_pos
    order; the extractor must recover position, href and text)."""
    return (
        _with({})
        + """
SELECT l.src_page_id, CAST(l.doc_pos AS INTEGER) AS doc_pos,
       l.raw_url AS url, l.text
FROM g_links l
JOIN (SELECT DISTINCT dst_page_id FROM g_seeds) sp
     ON l.src_page_id = sp.dst_page_id
"""
    )


def sql_robots_filter() -> str:
    return (
        _with({"f_init": F_INIT})
        + f"""
SELECT f.url, {_BLOCKED} AS blocked
FROM f_init f LEFT JOIN g_robots r ON f.host = r.host
"""
    )


def sql_politeness_slots() -> str:
    return (
        _with({"f_init": F_INIT})
        + f"""
, nb AS (
  SELECT f.url, f.host, f.depth, f.lineage, r.crawl_delay_ms
  FROM f_init f LEFT JOIN g_robots r ON f.host = r.host
  WHERE NOT {_BLOCKED}
)
SELECT url, host,
  CAST((row_number() OVER (PARTITION BY host ORDER BY depth, lineage) - 1)
       * coalesce(crawl_delay_ms, 100) AS INTEGER) AS sched_slot_ms
FROM nb
"""
    )


def sql_host_budget_topk() -> str:
    return (
        _with({"f_init": F_INIT, "d1": D1_CAND})
        + f"""
SELECT url, host, lineage FROM (
  SELECT d.*, row_number() OVER (PARTITION BY host ORDER BY depth, lineage) AS hrn
  FROM d1 d
) t WHERE hrn <= {Q.BUDGET_TOPK}
"""
    )


def sql_retry_requeue() -> str:
    from volltextextraktion_selenium_md_spark.config import CrawlConfig

    statuses = ", ".join(str(s) for s in CrawlConfig().retryable_statuses)
    return (
        _with({"f_init": F_INIT, "d1": D1_CAND})
        + f"""
SELECT d.url, CAST(1 AS INTEGER) AS attempt
FROM d1 d JOIN g_pages p ON p.url = d.url
WHERE p.status IN ({statuses})
"""
    )


def sql_crawl_bfs_d1() -> str:
    return (
        _with({"f_init": F_INIT, "d1": D1_CAND})
        + """
, allrows AS (
  SELECT url, depth, lineage FROM f_init
  UNION ALL
  SELECT url, depth, lineage FROM d1
  WHERE url NOT IN (SELECT url FROM f_init)
)
SELECT url, depth, lineage,
       CAST(row_number() OVER (ORDER BY depth, lineage) AS INTEGER) AS ordinal
FROM allrows
"""
    )


# --- scalar cascade oracles ---------------------------------------------------

def sql_link_classification() -> str:
    lurl = "lower(url)"
    host = f"regexp_extract({lurl}, '^[a-z0-9+.-]+://([^/:?#]+)', 1)"
    path = f"regexp_extract({lurl}, '^[a-z0-9+.-]+://[^/?#]*(/[^?#]*)', 1)"
    social = " OR ".join(f"{host} LIKE '%{d}'" for d in SOCIAL_DOMAINS)
    download = " OR ".join(f"{path} LIKE '%{e}'" for e in DOWNLOAD_EXTS)
    nav = ", ".join(f"'{t}'" for t in NAV_TEXTS)
    return (
        _with({"link_cases": Q.LINK_CASES_BODY})
        + f"""
SELECT case_id, url, text,
  CASE
    WHEN {lurl} LIKE 'javascript:%' OR {lurl} LIKE '#%' THEN 'anchor'
    WHEN {social} THEN 'social'
    WHEN regexp_matches({lurl}, '/(impressum|datenschutz|privacy|agb|terms|cookies?)($|/)') THEN 'legal'
    WHEN regexp_matches({lurl}, '/(login|logout|sign(in|out|up)|register)($|/)') THEN 'auth'
    WHEN regexp_matches({lurl}, '/(search|suche)($|/)|[?&](q|query|search|suche)=') THEN 'search'
    WHEN regexp_matches({lurl}, '/(contact|kontakt|support|help)($|/)') THEN 'contact'
    WHEN {download} THEN 'download'
    WHEN lower(trim(coalesce(text, ''))) IN ({nav}) THEN 'nav'
    ELSE 'content'
  END AS category
FROM link_cases
"""
    )


def _strategy_case() -> str:
    # thresholds interpolated from the SAME CrawlConfig the Spark side
    # reads (http_only 800, js-light thin 500 — preflight.py:119-122)
    from volltextextraktion_selenium_md_spark.config import CrawlConfig

    cfg = CrawlConfig()
    return f"""
CASE
  WHEN lower(content_type) LIKE 'application/pdf%'
       OR lower(final_url) LIKE '%.pdf' THEN 'PDF'
  WHEN lower(content_type) LIKE '%application/rss%'
       OR lower(content_type) LIKE '%application/atom+xml%' THEN 'RSS'
  WHEN bot_wall THEN 'BLOCKED'
  WHEN youtube THEN 'YOUTUBE'
  WHEN rss_link THEN 'RSS'
  WHEN text_len >= {cfg.http_only_text_len} AND (has_main OR NOT spa_mark)
       AND NOT js_required AND NOT consent THEN 'HTTP_ONLY'
  WHEN (spa_mark OR (has_main AND text_len < {cfg.js_light_thin_text_len})
        OR js_required OR consent)
       AND consent THEN 'JS_LIGHT_CONSENT'
  WHEN spa_mark OR (has_main AND text_len < {cfg.js_light_thin_text_len})
       OR js_required OR consent
       THEN 'JS_LIGHT'
  ELSE 'HTTP_THEN_JS'
END
"""


def sql_strategy_classifier() -> str:
    return _with({}) + f"\nSELECT page_id, {_strategy_case()} AS strategy FROM g_pages"


def sql_preflight_features() -> str:
    """Expected features for every minted html page: the boolean bits
    are the g_pages columns themselves (the mint embeds exactly those
    markers); text_len is the deterministic visible-text length of the
    mint — title ('page {id}') always leads, every further chunk adds
    its length + 1 separator: bot-wall div 30, consent div 22, <main>
    heading ('Page {id}'), body text_len, table block 19 (id%37=0),
    math line 24 (id%41=0). Script/style/noscript text is invisible."""
    pid_len = "length(CAST(page_id AS STRING))"
    return (
        _with({})
        + f"""
SELECT page_id,
  CAST( (5 + {pid_len})
    + CASE WHEN bot_wall THEN 31 ELSE 0 END
    + CASE WHEN consent THEN 23 ELSE 0 END
    + CASE WHEN has_main THEN 6 + {pid_len} ELSE 0 END
    + CASE WHEN text_len > 0 THEN text_len + 1 ELSE 0 END
    + CASE WHEN page_id % 37 = 0 THEN 20 ELSE 0 END
    + CASE WHEN page_id % 41 = 0 THEN 25 ELSE 0 END AS INTEGER) AS text_len,
  has_main, spa_mark, js_required, consent, bot_wall, rss_link
FROM g_pages
WHERE content_type LIKE 'text/html%'
"""
    )


def sql_fetch_route() -> str:
    from volltextextraktion_selenium_md_spark.config import CrawlConfig

    cfg = CrawlConfig()
    serve = ", ".join(f"'{s}'" for s in ("PDF", "RSS", "HTTP_ONLY", "YOUTUBE"))
    return (
        _with({"mode_cases": Q.MODE_CASES_BODY})
        + f"""
, routed AS (
  SELECT m.page_id, m.mode,
         CASE WHEN m.mode = 'auto' THEN {_strategy_case()} END AS strategy,
         text_len
  FROM mode_cases m JOIN g_pages p ON p.page_id = m.page_id
)
SELECT page_id, mode, strategy,
  CASE
    WHEN mode = 'fast' THEN 'httpx'
    WHEN mode = 'js' THEN 'selenium'
    WHEN strategy IN ({serve}) THEN 'preflight_bytes'
    WHEN strategy = 'HTTP_THEN_JS'
         AND text_len >= {cfg.second_chance_text_len} THEN 'preflight_bytes'
    ELSE 'selenium'
  END AS route,
  (mode = 'auto' AND
   NOT (strategy IN ({serve})
        OR (strategy = 'HTTP_THEN_JS'
            AND text_len >= {cfg.second_chance_text_len}))) AS second_fetch
FROM routed
"""
    )


def _cost_exprs(probe_cap_timeout: int | None = None) -> tuple[str, str]:
    """(total_cost_sql, escalated_sql) — twin of plans/fetch.py's cost
    column: strategy midpoints, second-chance JS surcharge, mode
    overrides, the js_strategy 'accuracy' pool surcharge on any branch
    that actually renders through Selenium (incl. the BLOCKED refetch),
    and the speed->accuracy failure-ladder escalation (reference
    app/js_fetcher.py:896-946): a speed-pool render over the renderer
    cap, or a BLOCKED one, pays the one-shot accuracy surcharge.

    probe_cap_timeout: the context's GLOBAL timeout_ms — when given,
    mirrors the preflight 12 s cap (reference main.py:329): an
    auto-mode row whose modeled probe charge (cost_ms.HTTP_ONLY)
    exceeds min(coalesce(timeout_ms, global), preflight_cap_ms) takes
    the BLOCKED fall-through instead of the classified strategy.
    Requires a timeout_ms column in scope."""
    from volltextextraktion_selenium_md_spark.config import CrawlConfig

    cfg = CrawlConfig()
    x = cfg.js_accuracy_extra_ms
    acc = "(js_strategy = 'accuracy')"
    strat = _strategy_case()
    if probe_cap_timeout is not None:
        trip = (
            f"({cfg.cost_ms['HTTP_ONLY']} > least("
            f"coalesce(timeout_ms, {probe_cap_timeout}), "
            f"{cfg.preflight_cap_ms}))"
        )
        strat = f"CASE WHEN {trip} THEN 'BLOCKED' ELSE {strat} END"
    sc = cfg.second_chance_text_len
    per_strategy = "\n".join(
        f"    WHEN {strat} = '{s}' THEN {ms}"
        for s, ms in cfg.cost_ms.items()
    )
    base = f"""CASE
  WHEN mode = 'fast' THEN {cfg.cost_ms['HTTP_ONLY']}
  WHEN mode = 'js' THEN {cfg.cost_ms['JS_LIGHT']}
  WHEN {strat} = 'HTTP_THEN_JS' AND text_len < {sc}
       THEN {cfg.cost_ms['HTTP_THEN_JS'] + cfg.cost_ms['JS_LIGHT']}
{per_strategy}
END"""
    blocked = (
        f"((mode = 'auto' AND {strat} = 'BLOCKED')"
        " OR (mode = 'js' AND bot_wall))"
    )
    renders = (
        "(mode = 'js'"
        f" OR (mode = 'auto' AND {strat} IN ('JS_LIGHT', 'JS_LIGHT_CONSENT'))"
        f" OR (mode = 'auto' AND {strat} = 'HTTP_THEN_JS' AND text_len < {sc})"
        f" OR {blocked})"
    )
    esc = (
        f"({renders} AND NOT {acc}"
        f" AND ({blocked} OR ({base}) > {cfg.js_renderer_cap_ms}))"
    )
    cost = (
        f"(({base}) + CASE WHEN ({renders} AND {acc}) OR {esc}"
        f" THEN {x} ELSE 0 END)"
    )
    return cost, esc


def sql_fetch_timeout() -> str:
    from volltextextraktion_selenium_md_spark.config import CrawlConfig

    cfg = CrawlConfig()
    retryables = ", ".join(str(s) for s in cfg.retryable_statuses)
    return (
        _with({"mode_cases": Q.MODE_CASES_BODY})
        + f"""
, costed AS (
  SELECT p.page_id, m.mode, m.js_strategy, m.timeout_ms, m.retries,
         m.llm_postprocess, p.status,
         ({_cost_exprs(probe_cap_timeout=Q.TIMEOUT_CASE_MS)[0]}) AS cost,
         ({_cost_exprs(probe_cap_timeout=Q.TIMEOUT_CASE_MS)[1]}) AS js_escalated,
         coalesce(m.timeout_ms, {Q.TIMEOUT_CASE_MS}) AS cap
  FROM mode_cases m JOIN g_pages p ON p.page_id = m.page_id
),
decided AS (
  SELECT *,
    CASE
      WHEN (status IN ({retryables}) OR cost > cap)
           AND 0 < coalesce(retries, {cfg.retries}) THEN 'retry'
      WHEN status IN ({retryables}) OR cost > cap THEN 'failed'
      WHEN status >= 400 THEN 'failed'
      ELSE 'fetched'
    END AS outcome
  FROM costed
)
SELECT page_id, mode, js_strategy, timeout_ms,
  retries AS req_retries, llm_postprocess, outcome, js_escalated,
  -- modeled LLM latency rides elapsed_ms ONLY (reference main.py:466;
  -- timeout_ms governs the transport, so no outcome interaction)
  CAST(cost + CASE
    WHEN outcome = 'fetched' AND coalesce(llm_postprocess, FALSE)
    THEN {cfg.llm_cost_ms_base}
         + (page_id % {cfg.llm_cost_ms_span + 1}) * {cfg.llm_cost_ms_step}
    ELSE 0 END AS INTEGER) AS elapsed_ms
FROM decided
"""
    )


def sql_time_budget() -> str:
    from volltextextraktion_selenium_md_spark.config import CrawlConfig

    cfg = CrawlConfig()
    return (
        _with({"f_init": F_INIT, "d1": D1_CAND})
        + f"""
, allowed AS (
  SELECT d.url, d.host, d.depth, d.lineage, r.crawl_delay_ms
  FROM d1 d LEFT JOIN g_robots r ON d.host = r.host
  WHERE NOT {_BLOCKED.replace("f.url", "d.url")}
),
slotted AS (
  SELECT url,
    CAST((row_number() OVER (PARTITION BY host ORDER BY depth, lineage) - 1)
         * coalesce(crawl_delay_ms, {cfg.default_crawl_delay_ms}) AS INTEGER)
      AS sched_slot_ms
  FROM allowed
)
SELECT url, sched_slot_ms,
       sched_slot_ms >= {Q.TIME_BUDGET_CASE_MS} AS deferred
FROM slotted
"""
    )


def sql_error_page_detect() -> str:
    likes = " OR ".join(
        "lower(markdown) LIKE '%" + h.replace("'", "''") + "%'" for h in ERROR_HINTS_MD
    )
    return (
        _with({"error_cases": Q.ERROR_CASES_BODY})
        + f"""
SELECT page_id, markdown,
       (status >= 400 OR {likes}) AS error_page_detected
FROM error_cases
"""
    )


def sql_redirect_flag() -> str:
    return (
        _with({})
        + """
SELECT page_id,
       regexp_replace(final_url, '/+$', '') <> regexp_replace(url, '/+$', '')
       AS redirected
FROM g_pages
"""
    )


def sql_mime_to_ext() -> str:
    whens = "\n".join(
        f"    WHEN '{k}' THEN '{v}'" for k, v in MIME_TO_EXT.items()
    )
    return (
        _with({})
        + f"""
SELECT page_id, content_type,
  CASE lower(trim(split_part(content_type, ';', 1)))
{whens}
    ELSE '.bin'
  END AS ext
FROM g_pages
"""
    )


def sql_truncate_text() -> str:
    n = Q.TRUNCATE_CHARS
    cap = f"coalesce(CASE WHEN doc_id % 4 = 1 THEN {n // 2} END, {n})"
    return f"""
SELECT doc_id,
  CASE WHEN length(text) > {cap} THEN substr(text, 1, {cap}) ELSE text END
    AS text_cut,
  length(text) > {cap} AS truncated
FROM documents
"""


def sql_internal_links() -> str:
    return (
        _with({})
        + """
SELECT l.src_page_id, l.doc_pos, l.dst_url AS url,
       (p.host = l.dst_host) AS internal
FROM g_links l JOIN g_pages p ON p.page_id = l.src_page_id
"""
    )


def sql_absolutize_links() -> str:
    # urljoin re-derived per minted href class. Base urls are
    # 'https://hostH[.mM].example.com/page/ID' (no trailing slash), so:
    #  rooted  -> origin + href
    #  relative-> directory of base ('/page/') + href
    #  parent  -> '../' resolves the 'page' dir away, then re-enters it
    #  query   -> base + ?q=...     fragment -> base + #...
    origin = "split_part(base_url, '/page/', 1)"
    return (
        _with({"href_cases": Q.HREF_CASES_BODY})
        + f"""
SELECT case_id, base_url, href,
  CASE case_id % 6
    WHEN 0 THEN {origin} || href
    WHEN 1 THEN {origin} || '/page/' || href
    WHEN 2 THEN {origin} || '/page/' || CAST((case_id + 2) AS STRING)
    WHEN 3 THEN base_url || href
    WHEN 4 THEN base_url || href
    ELSE href
  END AS abs_url
FROM href_cases
"""
    )


def sql_surt_form() -> str:
    # hosts are exactly 'hostH.example.com' at mirrors=1; canonical form
    # keeps the path, drops nothing else for these urls
    return (
        _with({})
        + """
SELECT page_id, url,
  'com,example,' || split_part(split_part(url, '//', 2), '.', 1)
  || ')/page/' || split_part(url, '/page/', 2) AS surt
FROM g_pages
"""
    )


def sql_proxy_normalize() -> str:
    schemes = ", ".join(f"'{s}'" for s in ("http", "https", "socks5", "socks5h", "socks4"))
    return (
        _with({"proxy_cases": Q.PROXY_CASES_BODY})
        + f"""
SELECT page_id, proxy,
  CASE
    WHEN trim(proxy) = '' OR lower(trim(proxy)) = 'string' THEN NULL
    WHEN lower(regexp_extract(trim(proxy), '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
         IN ({schemes})
      THEN trim(proxy)
    ELSE NULL
  END AS proxy_norm
FROM proxy_cases
"""
    )


def sql_media_policy() -> str:
    ct = "lower(trim(split_part(content_type, ';', 1)))"
    return (
        _with({"media_cases": Q.MEDIA_CASES_BODY})
        + f"""
SELECT page_id, content_type, policy,
  CASE
    WHEN NOT ({ct} LIKE 'audio/%' OR {ct} LIKE 'video/%') THEN NULL
    WHEN policy = 'none' THEN ''
    WHEN policy = 'metadata' THEN
      '# Media Metadata' || chr(10) || chr(10) || '```json' || chr(10)
      || '{{"content_type": "' || {ct} || '", "size_bytes": '
      || CAST(n_bytes AS STRING) || '}}' || chr(10) || '```'
    WHEN policy = 'full' THEN
      '# Media Content' || chr(10) || chr(10)
      || '[media transcription not available: ' || {ct} || ']'
    ELSE '# Media Content' || chr(10) || chr(10)
      || '[media content skipped: ' || {ct} || ']'
  END AS media_md
FROM media_cases
"""
    )


def sql_error_page_html() -> str:
    likes = " OR ".join(
        "lower(html) LIKE '%" + h.replace("'", "''") + "%'"
        for h in ERROR_HINTS_HTML
    )
    return (
        _with({"error_html_cases": Q.ERROR_HTML_CASES_BODY})
        + f"""
SELECT page_id, html, ({likes}) AS error_detected
FROM error_html_cases
"""
    )


def sql_converter_route() -> str:
    """Re-derives convert_stage's converter tier from the deterministic
    payload-mint rules (plans/convert.py:mint_payload + convert_bytes):
    image/octet/pdf/rss/media route on content type; the mislabeled-PDF
    page (page_id%20=16, P8) falls into the html chain — where a forced
    html_converter wins (its payload has no kmap script), else 'full';
    kmap wins on the embedded-topic pages (page_id%31=0, C3, desc
    always >=800 chars) BEFORE the forced tier (the reference's
    embedded-JSON gate runs before converter dispatch); then the forced
    tier, then 'main' (needs <main> present and the extracted text to
    reach 80 chars), else 'full' (the <title> text keeps tier 2
    non-empty, so tier-3 'strip' is only reachable when forced)."""
    main_len = (
        "7 + length(CAST(page_id AS STRING)) + "
        "CASE WHEN text_len > 0 THEN 2 + text_len ELSE 0 END"
    )

    def tier(forced: str) -> str:
        return f"""
  CASE
    WHEN content_type LIKE 'image/%' THEN 'image'
    WHEN content_type LIKE 'application/octet-stream%' THEN 'bypass'
    WHEN content_type LIKE 'application/pdf%' AND page_id % 20 <> 16 THEN 'pdf'
    WHEN content_type LIKE 'application/rss%' THEN 'rss'
    WHEN content_type LIKE 'audio/%' OR content_type LIKE 'video/%' THEN 'media'
    WHEN content_type LIKE 'application/pdf%' AND ({forced}) IS NOT NULL
         THEN ({forced})
    WHEN content_type LIKE 'application/pdf%' THEN 'full'
    WHEN page_id % 31 = 0 THEN 'kmap'
    WHEN page_id % 29 = 7 THEN 'full'
    WHEN ({forced}) IS NOT NULL THEN ({forced})
    WHEN has_main AND ({main_len}) >= 80 THEN 'main'
    ELSE 'full'
  END AS converter_used"""

    # section 2 reads the forced tier FROM THE FRONTIER (f_init's
    # html_converter, minted in g_seeds and carried engine-wide) —
    # same derivation, per-request source
    return (
        _with({"f_init": F_INIT})
        + f"""
SELECT page_id, converter_used, 'cases' AS src
FROM (SELECT page_id, {tier(Q.HTML_CONVERTER_CASE)} FROM g_pages) c
UNION ALL
SELECT page_id, converter_used, 'frontier' AS src
FROM (
  SELECT page_id, {tier("html_converter")}
  FROM g_pages JOIN f_init USING (url)
) fr
"""
    )


def sql_llm_postprocess() -> str:
    """Salvage outcomes per response shape (plans/llm.py transport):
    cases 0-2 parse to the minted JSON (cleaned = '<tag> '+md where tag
    is the llm_clean_prompt override's leading token, default CLEANED;
    classification by the deterministic cascade, anonymized = request
    flag); case 3 is non-JSON -> raw text kept as cleaned, defaults for
    the rest; case 4 is empty -> everything defaults, no token usage."""
    from volltextextraktion_selenium_md_spark.plans.llm import CONTENT_MIN_CHARS

    tag = "CASE WHEN llm_prompt IS NOT NULL THEN split_part(trim(llm_prompt), ' ', 1) ELSE 'CLEANED' END"
    sel = f"""
  CASE WHEN NOT llm_go THEN NULL
       WHEN page_id % 5 = 3 THEN 'Here is the cleaned text:' || chr(10) || ({tag}) || ' ' || markdown
       WHEN page_id % 5 = 4 THEN markdown
       ELSE ({tag}) || ' ' || markdown
  END AS cleaned_markdown,
  CASE WHEN NOT llm_go THEN NULL
       WHEN page_id % 5 IN (3, 4) THEN 'Metabeschreibung'
       WHEN status >= 400 THEN 'Fehler/Infoseite'
       WHEN length(markdown) >= {CONTENT_MIN_CHARS} THEN 'Bildungsinhalt'
       ELSE 'Metabeschreibung' END AS classification,
  CASE WHEN NOT llm_go THEN NULL
       ELSE anonymize END AS anonymized,
  CASE WHEN NOT llm_go OR page_id % 5 = 4 THEN NULL
       ELSE CAST(floor(length(markdown) / 4) AS INTEGER) END AS tokens_used"""
    # section 2 re-derives with the LLM settings FROM THE FRONTIER
    # (f_init's llm_anonymize / llm_postprocess / llm_prompt)
    return (
        _with({"llm_cases": Q.LLM_CASES_BODY, "f_init": F_INIT})
        + f"""
SELECT page_id, {sel}, 'cases' AS src FROM llm_cases
UNION ALL
SELECT page_id, {sel}, 'frontier' AS src FROM (
  SELECT p.page_id, p.status,
         'doc ' || CAST(p.page_id AS STRING)
           || repeat(' w', p.page_id % 400) AS markdown,
         f.llm_anonymize AS anonymize, f.llm_prompt,
         f.llm_postprocess AS llm_go
  FROM g_pages p JOIN f_init f USING (url)
) fr
"""
    )


def sql_event_rate_windows() -> str:
    # Spark window('1 hour') tumbling windows are epoch-aligned, which
    # for whole hours equals date_trunc('hour', ts)
    return """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def sql_admission_control() -> str:
    from volltextextraktion_selenium_md_spark.streaming.admission import (
        ADMISSION_CAPACITY,
        ADMISSION_QUEUE_LIMIT,
        ADMISSION_WINDOW,
        N_HOSTS,
    )

    cap, q = ADMISSION_CAPACITY, ADMISSION_QUEUE_LIMIT
    return f"""
SELECT event_id, host, window_start,
  CASE WHEN rn <= {cap} THEN 'admitted'
       WHEN rn <= {cap + q} THEN 'queued'
       ELSE 'rejected' END AS decision
FROM (
  SELECT event_id,
    'host' || CAST(user_id % {N_HOSTS} AS STRING) AS host,
    -- DuckDB date_trunc('day') yields DATE; Spark yields TIMESTAMP
    CAST(date_trunc('{ADMISSION_WINDOW}', ts) AS TIMESTAMP) AS window_start,
    row_number() OVER (
      PARTITION BY user_id % {N_HOSTS}, date_trunc('{ADMISSION_WINDOW}', ts)
      ORDER BY ts, event_id
    ) AS rn
  FROM events
) t
"""


def sql_sessionize() -> str:
    from volltextextraktion_selenium_md_spark.streaming.monitor import SESSION_GAP_MIN

    gap_s = SESSION_GAP_MIN * 60
    return f"""
WITH lagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
            - CAST(floor(epoch(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
            > {gap_s}
         THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT *, CAST(sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    ) AS INTEGER) AS session_idx
  FROM lagged
)
SELECT user_id, session_idx, min(ts) AS session_start,
       max(ts) AS session_end, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY 1, 2
"""


# --- training-data pipeline oracles -------------------------------------------

_FP = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


def sql_dedup_exact() -> str:
    return f"""
SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS dup_count
FROM (SELECT doc_id, {_FP} AS fp FROM documents) t
GROUP BY fp
"""


def sql_doc_fingerprint() -> str:
    return f"SELECT doc_id, {_FP} AS fp FROM documents"


def sql_token_stats() -> str:
    return f"""
SELECT doc_id,
  CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS}) END AS INTEGER) AS n_tokens,
  CAST(CASE WHEN trim(text) = '' THEN 0
       ELSE len(list_distinct({_TOKS})) END AS INTEGER) AS n_distinct_tokens,
  CAST(length(text) AS INTEGER) AS n_chars_actual
FROM documents
"""


def sql_lang_quality() -> str:
    from volltextextraktion_selenium_md_spark.functions.text import LANG_MARKERS

    score = {
        lang: " + ".join(
            f"CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END"
            for w in words
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in LANG_MARKERS) + ")"
    lang_case = "CASE WHEN " + best + " = 0 THEN 'unknown'\n" + "\n".join(
        f"  WHEN s_{lg} = {best} THEN '{lg}'" for lg in LANG_MARKERS
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, text,
    {", ".join(f"({score[lg]}) AS s_{lg}" for lg in LANG_MARKERS)}
  FROM documents
), toks AS (
  SELECT doc_id, text,
    CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS}) END AS n,
    CASE WHEN trim(text) = '' THEN 0 ELSE len(list_distinct({_TOKS})) END AS d,
    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS pc
  FROM documents
)
SELECT s.doc_id,
  {lang_case} AS lang_pred,
  round(0.4 * least(CAST(length(s.text) AS DOUBLE) / 500.0, 1.0)
      + 0.4 * (CASE WHEN t.n > 0 THEN CAST(t.d AS DOUBLE) / t.n ELSE 0.0 END)
      + 0.2 * (1.0 - least((CASE WHEN length(s.text) > 0
                    THEN CAST(t.pc AS DOUBLE) / length(s.text) ELSE 0.0 END) * 5.0,
                    1.0)), 4) AS quality
FROM scored s JOIN toks t ON s.doc_id = t.doc_id
"""


def sql_ngram_jaccard() -> str:
    return f"""
WITH sh AS ({SHINGLE_H}),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter), 4)
  AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_inter), 4)
      >= {Q.JACCARD_T}
"""


def _minhash_aggs() -> list[str]:
    return [
        f"min((h % {MINHASH_PRIME} * {a} + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_params(Q.MINHASH_H))
    ]


def sql_minhash_signatures() -> str:
    return f"""
WITH sh AS ({SHINGLE_H})
SELECT doc_id, {", ".join(_minhash_aggs())}
FROM sh GROUP BY doc_id
"""


def _minhash_pairs_tail() -> str:
    """sig/banded/capped/cand CTEs + final pair SELECT, reading hashed
    shingles from a preceding CTE named ``sh``. Shared by the documents
    oracle (sql_minhash_lsh_pairs) and the crawled-corpus composition
    (sql_crawl_then_dedup) so the banding/rank-cut/estimate SQL cannot
    drift between them."""
    r = Q.MINHASH_H // Q.MINHASH_BANDS
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"mh_{b * r + j}" for j in range(r))
        + ")) AS bucket FROM sig"
        for b in range(Q.MINHASH_BANDS)
    )
    eq = " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(Q.MINHASH_H)
    )
    return f"""
sig AS (SELECT doc_id, {", ".join(_minhash_aggs())} FROM sh GROUP BY doc_id),
banded AS ({bands}),
capped AS (
  SELECT doc_id, band, bucket FROM (
    SELECT doc_id, band, bucket,
           row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= {Q.LSH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM capped x JOIN capped y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
  round(({eq}) / {float(Q.MINHASH_H)}, 4) AS est_jaccard
FROM cand
JOIN sig a ON a.doc_id = doc_a
JOIN sig b ON b.doc_id = doc_b
WHERE ({eq}) / {float(Q.MINHASH_H)} >= {Q.LSH_EST_T}
"""


def sql_minhash_lsh_pairs() -> str:
    return f"""
WITH sh AS ({SHINGLE_H}),{_minhash_pairs_tail()}"""


def sql_minhash_lsh_clusters() -> str:
    """Connected components over the same star edges the Spark side
    builds (doc -> per-(band,bucket) min doc_id), via a recursive CTE:
    a doc's cluster_id = min label reachable through symmetric edges."""
    r = Q.MINHASH_H // Q.MINHASH_BANDS
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"mh_{b * r + j}" for j in range(r))
        + ")) AS bucket FROM sig"
        for b in range(Q.MINHASH_BANDS)
    )
    return f"""
WITH RECURSIVE sh AS ({SHINGLE_H}),
sig AS (SELECT doc_id, {", ".join(_minhash_aggs())} FROM sh GROUP BY doc_id),
banded AS ({bands}),
roots AS (SELECT band, bucket, min(doc_id) AS dst FROM banded GROUP BY 1, 2),
edges AS (
  SELECT DISTINCT b.doc_id AS src, r.dst
  FROM banded b JOIN roots r USING (band, bucket)
  WHERE b.doc_id <> r.dst
),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(doc, lab) AS (
  SELECT doc_id, doc_id FROM sig
  UNION
  SELECT s.src, r.lab FROM sym s JOIN reach r ON r.doc = s.dst
),
lab AS (SELECT doc, min(lab) AS cluster_id FROM reach GROUP BY doc)
SELECT l.doc AS doc_id, l.cluster_id, c.cluster_size
FROM lab l JOIN (
  SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1
) c USING (cluster_id)
"""


# bits 0..59 from md5 chars 1-15 (h), bits 60..63 from chars 16-30 (h2)
# — mirrors dedup.simhash/_md5_hash60_hi exactly
_HEX15_HI = "CAST('0x' || substr(md5({x}), 16, 15) AS BIGINT)"

_SIMHASH_CTE = f"""
SELECT doc_id, {", ".join(
    f"sum(CASE WHEN ({'h' if b < 60 else 'h2'} >> {b if b < 60 else b - 60}) & 1 = 1 "
    f"THEN 1 ELSE -1 END) AS s_{b}"
    for b in range(SIMHASH_BITS)
)}
FROM (
  SELECT doc_id, {_HEX15.format(x="tok")} AS h, {_HEX15_HI.format(x="tok")} AS h2
  FROM (
    SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
  ) t0
) t1 GROUP BY doc_id
"""

# bit 63 contributes the signed two's-complement term -2^63, matching
# the Spark side's int64 assembly
_SIMHASH_FP = "CAST(" + " + ".join(
    f"CASE WHEN s_{b} > 0 THEN {1 << b if b < 63 else -(1 << 63)} ELSE 0 END"
    for b in range(SIMHASH_BITS)
) + " AS BIGINT)"


def sql_simhash() -> str:
    return f"""
WITH sums AS ({_SIMHASH_CTE})
SELECT doc_id, {_SIMHASH_FP} AS simhash FROM sums
"""


def sql_simhash_dup_pairs() -> str:
    bands = Q.SIMHASH_MAX_HAMMING + 1
    width = SIMHASH_BITS // bands
    band_sel = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * width}) & {(1 << width) - 1} AS bucket FROM sh"
        for b in range(bands)
    )
    return f"""
WITH sums AS ({_SIMHASH_CTE}),
sh AS (SELECT doc_id, {_SIMHASH_FP} AS simhash FROM sums),
banded AS ({band_sel}),
capped AS (
  SELECT doc_id, simhash, band, bucket FROM (
    SELECT doc_id, simhash, band, bucket,
           row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= {Q.SIMHASH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.simhash AS sh_a, y.simhash AS sh_b
  FROM capped x JOIN capped y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {Q.SIMHASH_MAX_HAMMING}
"""


# --- similarity search oracles -------------------------------------------------

_NORM_CTE = """
SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS n
FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b
"""


def sql_cosine_topk() -> str:
    ids = ", ".join(str(i) for i in Q.COS_QUERY_IDS)
    return f"""
WITH norm AS ({_NORM_CTE}),
q AS (SELECT vec_id AS query_id, e AS qe, n AS qn FROM norm
      WHERE vec_id IN ({ids})),
pairs AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round(list_inner_product(b.e, q.qe) / (b.n * q.qn), 4) AS cos
  FROM norm b, q WHERE b.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM pairs
) r WHERE rank <= {Q.COS_K}
"""


def _ivf_assign_cte(src: str, centroids: str) -> str:
    """Nearest-centroid assignment (argmax cosine, 6 dp, tie -> smaller
    cluster) — mirrors simsearch._nearest_centroid."""
    return f"""
  SELECT vec_id, cluster FROM (
    SELECT b.vec_id, c.cluster,
      row_number() OVER (PARTITION BY b.vec_id ORDER BY
        round(list_inner_product(b.e, c.c_emb)
              / (b.n * sqrt(list_inner_product(c.c_emb, c.c_emb))), 6) DESC,
        c.cluster ASC) AS rk
    FROM {src} b CROSS JOIN {centroids} c
  ) WHERE rk = 1
"""


def _ivf_means_cte(assign: str) -> str:
    """Element-wise member mean per cluster, rounded to 6 dp and passed
    through FLOAT — bit-identical to the Spark rebuild (posexplode ->
    avg -> round -> float cast)."""
    return f"""
  SELECT cluster, list(m ORDER BY pos) AS c_emb FROM (
    SELECT a.cluster, u.pos,
           CAST(CAST(round(avg(u.val), 6) AS FLOAT) AS DOUBLE) AS m
    FROM {assign} a JOIN norm b USING (vec_id),
         (SELECT vec_id, unnest(e) AS val, generate_subscripts(e, 1) AS pos
          FROM norm) u
    WHERE u.vec_id = b.vec_id
    GROUP BY a.cluster, u.pos
  ) GROUP BY cluster
"""


def sql_ivf_topk() -> str:
    """IVF probe+rank with the Lloyd iterations UNROLLED in SQL
    (lloyd_iters=2 fixed): seed = K smallest vec_ids, two rounds of
    assign->mean, final assignment, nprobe nearest lists per query,
    exact cosine within them. Every float step is rounding-pinned
    (assign cos 6 dp, centroid means 6 dp + FLOAT cast, final cos 4 dp)
    so both engines agree digit for digit."""
    ids = ", ".join(str(i) for i in Q.COS_QUERY_IDS)
    k, K, nprobe = Q.COS_K, Q.IVF_CENTROIDS, Q.IVF_NPROBE
    return f"""
WITH norm AS ({_NORM_CTE}),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster,
         e AS c_emb
  FROM norm ORDER BY vec_id LIMIT {K}
),
a1 AS ({_ivf_assign_cte("norm", "c0")}),
c1 AS ({_ivf_means_cte("a1")}),
a2 AS ({_ivf_assign_cte("norm", "c1")}),
c2 AS ({_ivf_means_cte("a2")}),
assign AS ({_ivf_assign_cte("norm", "c2")}),
q AS (SELECT vec_id AS query_id, e AS qe, n AS qn FROM norm
      WHERE vec_id IN ({ids})),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, c.cluster,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        round(list_inner_product(q.qe, c.c_emb)
              / (q.qn * sqrt(list_inner_product(c.c_emb, c.c_emb))), 6) DESC,
        c.cluster ASC) AS rk
    FROM q CROSS JOIN c2 c
  ) WHERE rk <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a USING (cluster)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT cand.query_id, b.vec_id AS neighbor_id,
         round(list_inner_product(b.e, q.qe) / (b.n * q.qn), 4) AS cos,
         row_number() OVER (PARTITION BY cand.query_id ORDER BY
           round(list_inner_product(b.e, q.qe) / (b.n * q.qn), 4) DESC,
           b.vec_id ASC) AS rank
  FROM cand JOIN q USING (query_id) JOIN norm b ON b.vec_id = cand.vec_id
) r WHERE rank <= {k}
"""


def _bucket_expr(table: int, num_planes: int, alias: str = "e") -> str:
    """Bucket for hash table `table`: planes [t*P, (t+1)*P), mirroring
    lsh_banded's `sig = sig*2 + bit` accumulation."""
    planes = []
    for p in range(num_planes):
        terms = " + ".join(
            f"{alias}[{d + 1}] * {float(hyperplane_weight(table * num_planes + p, d))}"
            for d in range(Q.EMB_DIM)
        )
        planes.append(
            f"CASE WHEN ({terms}) > 0 THEN {1 << (num_planes - 1 - p)} ELSE 0 END"
        )
    return "(" + " + ".join(planes) + ")"


def _banded_cte(num_planes: int, num_tables: int) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, e, n, {t} AS tbl, "
        f"{_bucket_expr(t, num_planes)} AS bucket FROM norm"
        for t in range(num_tables)
    )


def sql_cosine_topk_lsh() -> str:
    ids = ", ".join(str(i) for i in Q.COS_QUERY_IDS)
    return f"""
WITH norm AS ({_NORM_CTE}),
banded AS ({_banded_cte(Q.LSH_PLANES, Q.LSH_TABLES)}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, b.vec_id
  FROM banded b JOIN banded q
    ON b.tbl = q.tbl AND b.bucket = q.bucket AND b.vec_id <> q.vec_id
  WHERE q.vec_id IN ({ids})
),
pairs AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         round(list_inner_product(b.e, q.e) / (b.n * q.n), 4) AS cos
  FROM cand c
  JOIN norm b ON b.vec_id = c.vec_id
  JOIN norm q ON q.vec_id = c.query_id
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM pairs
) r WHERE rank <= {Q.COS_K}
"""


def sql_embedding_near_dup() -> str:
    return f"""
WITH norm AS ({_NORM_CTE}),
banded AS ({_banded_cte(Q.NEAR_PLANES, Q.NEAR_TABLES)}),
capped AS (
  SELECT vec_id, e, n, tbl, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) AS rn
    FROM banded
  ) WHERE rn <= {Q.NEAR_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM capped x JOIN capped y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.vec_a, c.vec_b,
  round(list_inner_product(a.e, b.e) / (a.n * b.n), 4) AS cos
FROM cand c
JOIN norm a ON a.vec_id = c.vec_a
JOIN norm b ON b.vec_id = c.vec_b
WHERE round(list_inner_product(a.e, b.e) / (a.n * b.n), 4) >= {Q.NEAR_DUP_T}
"""


# --- crawl-composition oracles (round sim + closed-form corpus) ---------------
#
# Full-fidelity SQL twin of the engine's multi-round BFS loop
# (plans/frontier.py round loop; pure-python spec replay.py:172-314):
# a DuckDB recursive CTE carries ONE state row per round — the pending
# frontier and the seen set as lists, the decision log as an
# accumulating struct list. Each iteration applies robots prefix rules,
# the per-host admission rank cut (deferrals stay queued), the
# status-driven outcome (retryable statuses re-queue until the per-row
# retry budget), and first-seen child emission with inherited request
# columns — exactly the reference crawl client loop (app/main.py
# dispatch + app/utils.py:39-55 order-preserving dedup).
#
# The modeled fetch cost is NOT re-derived here: every g_seeds-minted
# timeout (5000 ms / NULL->30000) exceeds the 10-330 ms modeled cost
# ceiling by construction (graph.py g_seeds comment), so timeouts can
# never fire inside the crawl and outcome depends on status alone.
# fetch_timeout's oracle exercises the cost/timeout/escalation branches
# on an outcome-flipping case mix instead.

_FR_FIELDS = (
    "url := url, host := host, depth := depth, lin := lin, att := att, "
    "xl := xl, hc := hc, tc := tc, mb := mb, mp := mp, rt := rt"
)
_FR_COLS = "url, host, depth, lin, att, xl, hc, tc, mb, mp, rt"


def _crawl_sim_sql() -> str:
    from volltextextraktion_selenium_md_spark.config import CrawlConfig
    from volltextextraktion_selenium_md_spark.graph import canon_sql

    cfg = CrawlConfig()
    statuses = ", ".join(str(s) for s in cfg.retryable_statuses)
    return f"""
WITH RECURSIVE sim AS (
  SELECT 0 AS rnd,
    (SELECT coalesce(list(struct_pack(url := url, host := host, depth := depth,
        lin := lineage, att := 0, xl := extract_links, hc := html_converter,
        tc := trafilatura_clean, mb := max_bytes, mp := media_policy,
        rt := retries)), [])
       FROM f_init) AS fr,
    (SELECT coalesce(list(url), []) FROM f_init) AS seen,
    CAST([] AS STRUCT(rnd INTEGER, url VARCHAR, depth INTEGER, lin VARCHAR,
        att INTEGER, outcome VARCHAR, pid BIGINT, hc VARCHAR, tc BOOLEAN,
        mb INTEGER, mp VARCHAR)[]) AS logd
  UNION ALL
  SELECT s.rnd + 1, n.nfr, s.seen || n.nsee, s.logd || n.nlog
  FROM sim s, LATERAL (
    WITH fr_t AS (SELECT unnest(s.fr, recursive := true)),
    nb AS (
      SELECT f.*,
             row_number() OVER (PARTITION BY f.host ORDER BY f.depth, f.lin) AS hrn
      FROM fr_t f LEFT JOIN g_robots r ON f.host = r.host
      WHERE NOT (r.disallow_prefix IS NOT NULL
                 AND ('/page/' || split_part(f.url, '/page/', 2))
                     LIKE r.disallow_prefix || '%')
    ),
    dec AS (
      SELECT a.*, p.page_id AS pid, p.content_type AS ctype,
        CASE WHEN p.url IS NULL THEN 'missing'
             WHEN p.status IN ({statuses})
               THEN CASE WHEN a.att < coalesce(a.rt, {cfg.retries})
                         THEN 'retry' ELSE 'failed' END
             WHEN p.status >= 400 THEN 'failed'
             ELSE 'fetched' END AS outcome
      FROM nb a LEFT JOIN g_pages p ON p.url = a.url
      WHERE a.hrn <= {cfg.host_budget_per_round}
    ),
    kids AS (
      SELECT {canon_sql("l.raw_url")} AS url, l.dst_host AS host,
             d.depth + 1 AS depth,
             d.lin || '.' || {segment_sql("l.doc_pos", DOC_POS_WIDTH)} AS lin,
             0 AS att, d.xl, d.hc, d.tc, d.mb, d.mp, d.rt
      FROM dec d JOIN g_links l ON l.src_page_id = d.pid
      WHERE d.outcome = 'fetched' AND d.ctype LIKE 'text/html%'
            AND d.depth < {cfg.max_depth} AND d.xl IS DISTINCT FROM false
    ),
    newk AS (
      SELECT * FROM (
        SELECT k.*, row_number() OVER (PARTITION BY k.url ORDER BY k.depth, k.lin) AS krn
        FROM kids k) t
      WHERE krn = 1 AND NOT list_contains(s.seen, url)
    )
    SELECT
      (SELECT coalesce(list(struct_pack({_FR_FIELDS})), []) FROM (
         SELECT {_FR_COLS} FROM nb WHERE hrn > {cfg.host_budget_per_round}
         UNION ALL
         SELECT url, host, depth, lin, att + 1, xl, hc, tc, mb, mp, rt
         FROM dec WHERE outcome = 'retry'
         UNION ALL
         SELECT {_FR_COLS} FROM newk
      )) AS nfr,
      (SELECT coalesce(list(url), []) FROM newk) AS nsee,
      (SELECT coalesce(list(struct_pack(rnd := s.rnd, url := url, depth := depth,
          lin := lin, att := att, outcome := outcome, pid := pid, hc := hc,
          tc := tc, mb := mb, mp := mp)), []) FROM dec) AS nlog
  ) n
  WHERE len(s.fr) > 0 AND s.rnd < {cfg.max_rounds}
),
crawl_log AS (
  SELECT l.* FROM (
    SELECT logd FROM sim ORDER BY rnd DESC LIMIT 1
  ) last, LATERAL (SELECT unnest(last.logd, recursive := true)) l
)
SELECT CAST(row_number() OVER (ORDER BY rnd, depth, lin) AS INTEGER) AS ordinal,
       CAST(rnd AS INTEGER) AS round, url, CAST(depth AS INTEGER) AS depth,
       lin AS lineage, CAST(att AS INTEGER) AS attempt, outcome, pid,
       hc, tc, mb, mp
FROM crawl_log
"""


def _crawl_ctes() -> str:
    return _with({"f_init": F_INIT}) + ",\ncrawl_sim AS (" + _crawl_sim_sql() + ")"


def sql_crawl_full() -> str:
    return (
        _crawl_ctes()
        + "\nSELECT ordinal, round, url, depth, lineage, attempt, outcome FROM crawl_sim"
    )


def _corpus_ctes() -> str:
    """(doc_id, text) for every page the crawl fetched: the EXACT
    markdown convert_stage emits for the minted payloads, in closed
    form. Each mint branch (plans/convert.py:mint_payload) composed
    with its converter tier (convert_bytes) reduces to a deterministic
    string template over the page columns and the request's inherited
    html_converter/trafilatura_clean/media_policy — validated
    string-exact against convert_bytes at sf0.001/sf0.01 (all fetched
    docs) when this oracle was built. Fixed-fragment transforms
    (the math/table polish, the strip-tier table separator) are
    precomputed HERE by running the same Python helpers the engine
    uses, so the two sides cannot drift."""
    from volltextextraktion_selenium_md_spark.config import CrawlConfig
    from volltextextraktion_selenium_md_spark.functions.text import (
        enhance_table_structure_py,
    )
    from volltextextraktion_selenium_md_spark.plans.convert import (
        _FORMULA_RE,
        _MATH_EXPR_RE,
        _WORDS,
    )

    cfg = CrawlConfig()
    nn = "chr(10) || chr(10)"
    nl = "chr(10)"

    # the body-text word stream is periodic: word i = _WORDS[(pid+7i)%16],
    # so the infinite join is a repetition of one of 16 precomputed
    # stride-7 cycles selected by pid%16 (plans/convert.py:_body_text)
    cycles = [" ".join(_WORDS[(s + i * 7) % 16] for i in range(16)) for s in range(16)]
    math_raw = "E = mc2 and f(x) applies"
    math_pol = _FORMULA_RE.sub(r"**\1**", _MATH_EXPR_RE.sub(r"`\1`", math_raw))
    table_enh = enhance_table_structure_py("| a | b |\n| 1 | 2 |")
    strip_table = "| a | b | | 1 | 2 |"
    strip_sep = (
        "|"
        + "|".join("---" for _ in range(len(("x " + strip_table).split("|")) - 1))
        + "|"
    )

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

    cyc_case = (
        "CASE CAST(page_id % 16 AS INT) "
        + " ".join(f"WHEN {s} THEN {lit(c)}" for s, c in enumerate(cycles))
        + " END"
    )

    def body_expr(rep: str, L: str) -> str:
        # python: " ".join(words)[:L], trailing space -> 'x'
        return (
            f"CASE WHEN {L} <= 0 THEN '' "
            f"WHEN substr({rep}, {L}, 1) = ' ' THEN substr({rep}, 1, ({L}) - 1) || 'x' "
            f"ELSE substr({rep}, 1, {L}) END"
        )

    pid = "page_id"
    pol = f"coalesce(mp, '{cfg.media_policy}')"
    media_n = f"(64 + {pid} % 1000)"
    media_md = f"""CASE {pol}
      WHEN 'none' THEN ''
      WHEN 'metadata' THEN '# Media Metadata' || {nn} || '```json' || {nl}
           || '{{"content_type": "' || bct || '", "size_bytes": ' || {media_n} || '}}' || {nl} || '```'
      WHEN 'full' THEN '# Media Content' || {nn} || '[media transcription not available: ' || bct || ']'
      ELSE '# Media Content' || {nn} || '[media content skipped: ' || bct || ']'
    END"""
    img_md = (
        f"'![synthetic image ' || {pid} || ' (' || ({pid} % 7) || ' objects, hue ' || ({pid} % 360) || ')](' || {pid} || ')'"
        f" || {nn} || '24x16 ' || bct"
    )
    octet_md = (
        "'# Binary Content' || " + nn
        + " || 'Content-Type: application/octet-stream (64 bytes) — not converted.'"
    )
    pdf_md = f"'# PDF Document' || {nn} || bod200"
    rss_md = (
        f"'- feed ' || {pid} || {nl} || '- entry ' || {pid} || '-0' || {nl}"
        f" || '- entry ' || {pid} || '-1' || {nl} || '- entry ' || {pid} || '-2'"
    )

    main_text = f"'# Page ' || {pid} || CASE WHEN text_len > 0 THEN {nn} || bod ELSE '' END"
    main_len = (
        f"(7 + length(CAST({pid} AS VARCHAR)) + "
        f"CASE WHEN text_len > 0 THEN 2 + text_len ELSE 0 END)"
    )
    # full-DOM tier text: title + marker texts + (h1) + body + polished
    # table/math fragments; the table enhancer inserts one extra blank
    # line when the table is not the last chunk
    full_text = f"""'page ' || {pid}
      || CASE WHEN bot_wall THEN {nn} || 'Attention Required! cloudflare' ELSE '' END
      || CASE WHEN consent THEN {nn} || 'cookie consent: accept' ELSE '' END
      || CASE WHEN has_main THEN {nn} || '# Page ' || {pid} ELSE '' END
      || CASE WHEN text_len > 0 THEN {nn} || bod ELSE '' END
      || CASE WHEN {pid} % 37 = 0 THEN {nn} || {lit(table_enh)} ELSE '' END
      || CASE WHEN {pid} % 41 = 0 THEN
           (CASE WHEN {pid} % 37 = 0 THEN {nn} || {nl} ELSE {nn} END) || {lit(math_pol)}
         ELSE '' END"""
    # strip tier: tag-strip + whitespace collapse of the whole
    # pre-cleaned document (script CONTENTS survive, noscript removed
    # pre-parse); the single output line re-triggers the table enhancer
    strip_text = f"""'page ' || {pid}
      || CASE WHEN bot_wall THEN ' Attention Required! cloudflare' ELSE '' END
      || CASE WHEN spa_mark THEN ' window.__NEXT_DATA__={{}}' ELSE '' END
      || CASE WHEN consent THEN ' cookie consent: accept' ELSE '' END
      || CASE WHEN has_main THEN ' Page ' || {pid} ELSE '' END
      || CASE WHEN text_len > 0 THEN ' ' || bod ELSE '' END
      || CASE WHEN {pid} % 37 = 0 THEN ' {strip_table}' ELSE '' END
      || CASE WHEN {pid} % 41 = 0 THEN ' ' || {lit(math_pol)} ELSE '' END
      || CASE WHEN {pid} % 37 = 0 THEN {nl} || '{strip_sep}' ELSE '' END"""

    # kmap (plans/convert.py:_kmap_markdown; reference converter.py:
    # 416-641): n_att == start-tag index k == (pid//31)%4, so each tag
    # section holds at most one attachment and the whole layout
    # enumerates by k. The bare `inline:a0.png` ref is NEVER rewritten
    # (its regex capture swallows the following `</p>`, missing the
    # attachment map — same in the reference extractor), while the
    # attr ref resolves through <base> (pid%62) + attachments map.
    item = lambda i: f"'- [Att ' || {pid} || '-{i}](' || bpre || {pid} || '_{i}.png)'"
    sec = lambda name, i: f"{nn} || {nl} || '**{name}**' || {nn} || " + item(i)
    kmap_hdr = f"""CASE WHEN {pid} % 3 = 0 THEN '# Subject ' || ({pid} % 7) || {nl} ELSE '' END
      || CASE WHEN {pid} % 2 = 0 THEN '## Chapter ' || ({pid} % 5) || ' – Topic ' || {pid}
              ELSE '# page ' || {pid} END"""
    kmap_desc = f"""'Topic ' || {pid} || ' description ' || bod900
      || CASE WHEN kk >= 1 THEN {nn} || 'see inline:a0.png' ELSE '' END"""
    kmap_secs = f"""CASE kk
      WHEN 1 THEN {sec('Vorstellung', 0)}
      WHEN 2 THEN {sec('Anwendungen', 0)} || {sec('Anhänge', 1)}
      WHEN 3 THEN {sec('Erklärungen', 1)} || {sec('Vorstellung', 2)}
      ELSE '' END"""
    kmap_md = f"({kmap_hdr}) || {nn} || ({kmap_desc}) || ({kmap_secs})"

    html_md = f"""CASE
      WHEN {pid} % 31 = 0 THEN {kmap_md}
      WHEN {pid} % 29 = 7 THEN {full_text}
      WHEN hc = 'strip' THEN {strip_text}
      WHEN hc = 'full' THEN {full_text}
      WHEN hc = 'main' THEN CASE WHEN tc IS DISTINCT FROM false THEN {main_text} ELSE {full_text} END
      WHEN tc IS NOT DISTINCT FROM false THEN {full_text}
      WHEN has_main AND {main_len} >= 80 THEN {main_text}
      ELSE {full_text}
    END"""

    return f"""
corpus0 AS (
  SELECT l.pid AS page_id, l.hc, l.tc, l.mb, l.mp,
         p.content_type, p.text_len, p.has_main, p.spa_mark, p.js_required,
         p.consent, p.bot_wall,
         lower(trim(split_part(p.content_type, ';', 1))) AS bct
  FROM crawl_sim l JOIN g_pages p ON p.page_id = l.pid
  WHERE l.outcome = 'fetched'
),
corpus1 AS (
  SELECT *, {cyc_case} AS cyc,
         CASE WHEN page_id % 31 = 0 THEN CAST((page_id // 31) % 4 AS INT) ELSE 0 END AS kk,
         CASE WHEN page_id % 62 = 0 THEN '/app/files/' ELSE '/files/' END AS bpre
  FROM corpus0
),
corpus2 AS (
  SELECT *,
    {body_expr("repeat(cyc || ' ', CAST(text_len / 100 AS INT) + 2)", "text_len")} AS bod,
    {body_expr("repeat(cyc || ' ', 4)", "200")} AS bod200,
    {body_expr("repeat(cyc || ' ', 11)", "900")} AS bod900
  FROM corpus1
),
corpus AS (
  SELECT page_id AS doc_id,
    CASE
      WHEN bct LIKE 'image/%' THEN {img_md}
      WHEN bct = 'application/octet-stream' THEN {octet_md}
      WHEN bct = 'application/pdf' AND page_id % 20 <> 16 THEN {pdf_md}
      WHEN bct LIKE 'application/rss%' THEN {rss_md}
      WHEN bct LIKE 'audio/%' OR bct LIKE 'video/%' THEN {media_md}
      WHEN bct = 'application/pdf' THEN 'not actually a pdf'
      ELSE {html_md}
    END AS text
  FROM corpus2
)"""


def sql_crawl_then_dedup() -> str:
    """Crawl -> convert -> MinHash-LSH pairs, end to end in SQL: the
    round-sim gives corpus membership + per-lineage convert settings,
    the closed-form corpus gives the exact markdown, and the shared
    pairs tail applies the same banding/rank-cut/estimate as the
    documents oracle."""
    return (
        _crawl_ctes()
        + ","
        + _corpus_ctes().lstrip("\n")
        + f",\nsh AS ({shingle_h('corpus')}),"
        + _minhash_pairs_tail()
    )


def build_oracles() -> dict[str, str]:
    global ORACLES
    ORACLES = {
        "frontier_init": sql_frontier_init(),
        "canonicalize_urls": sql_canonicalize_urls(),
        "seen_anti_join": sql_seen_anti_join(),
        "link_explode": sql_link_explode(),
        "extract_links": sql_extract_links(),
        "robots_filter": sql_robots_filter(),
        "politeness_slots": sql_politeness_slots(),
        "host_budget_topk": sql_host_budget_topk(),
        "retry_requeue": sql_retry_requeue(),
        "crawl_bfs_d1": sql_crawl_bfs_d1(),
        "link_classification": sql_link_classification(),
        "strategy_classifier": sql_strategy_classifier(),
        "preflight_features": sql_preflight_features(),
        "fetch_route": sql_fetch_route(),
        "fetch_timeout": sql_fetch_timeout(),
        "time_budget": sql_time_budget(),
        "llm_postprocess": sql_llm_postprocess(),
        "error_page_detect": sql_error_page_detect(),
        "error_page_html": sql_error_page_html(),
        "absolutize_links": sql_absolutize_links(),
        "surt_form": sql_surt_form(),
        "proxy_normalize": sql_proxy_normalize(),
        "media_policy": sql_media_policy(),
        "converter_route": sql_converter_route(),
        "event_rate_windows": sql_event_rate_windows(),
        "sessionize": sql_sessionize(),
        "admission_control": sql_admission_control(),
        "redirect_flag": sql_redirect_flag(),
        "mime_to_ext": sql_mime_to_ext(),
        "truncate_text": sql_truncate_text(),
        "internal_links": sql_internal_links(),
        "dedup_exact": sql_dedup_exact(),
        "doc_fingerprint": sql_doc_fingerprint(),
        "token_stats": sql_token_stats(),
        "lang_quality": sql_lang_quality(),
        "ngram_jaccard": sql_ngram_jaccard(),
        "minhash_signatures": sql_minhash_signatures(),
        "minhash_lsh_pairs": sql_minhash_lsh_pairs(),
        "minhash_lsh_clusters": sql_minhash_lsh_clusters(),
        "simhash": sql_simhash(),
        "simhash_dup_pairs": sql_simhash_dup_pairs(),
        "cosine_topk": sql_cosine_topk(),
        "cosine_topk_lsh": sql_cosine_topk_lsh(),
        "ivf_topk": sql_ivf_topk(),
        "embedding_near_dup": sql_embedding_near_dup(),
        "crawl_full": sql_crawl_full(),
        "crawl_then_dedup": sql_crawl_then_dedup(),
    }
    return ORACLES
