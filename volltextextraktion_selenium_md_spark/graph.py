"""Deterministic synthetic web graph derived from the driver testdata.

The reference fetches live URLs (``app/http_fetcher.py:24-87``); in this
sandbox the fetch stage is a *lookup join* against a synthetic `pages`
table minted deterministically from the TPC-H-ish driver tables
(FIXTURES.md §7), so the DuckDB oracle can reproduce every engine step
on the very same parquet files.

Every view below is defined ONCE as SQL text in the dialect subset that
Spark SQL and DuckDB share (verified constructs: ``||`` with implicit
cast, CAST(x AS STRING), CASE WHEN, %, split_part, regexp_replace,
row_number() OVER, scalar subqueries). The Spark engine registers them
as temp views; oracle_sql() composes the identical text into WITH
clauses for DuckDB.

Graph shape:
- pages     <- orders:    one page per order; Zipf-ish host skew (every
                          3rd page on host0 -> hot-host salting tests);
                          status mix 200/301/404/503; content-type mix;
                          preflight feature bits from key modulos.
- links     <- lineitem:  src page = l_orderkey, doc_pos = l_linenumber,
                          dst minted by a mixing formula mod |orders|;
                          raw hrefs carry canonicalization noise
                          (#fragment, trailing /, UPPERCASE scheme+host).
- seeds     <- customer:  every 15th customer; raw-url noise variants.
- robots    <- nation:    hosts 0..24 get rules; every 5th host gets a
                          '/page/1' disallow prefix (blocks host0 = hot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from volltextextraktion_selenium_md_spark.schemas import REQUEST_COLS, footer_schema

BASE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# ---------------------------------------------------------------------------
# shared-dialect SQL view bodies (name -> SELECT text). Order matters:
# later views reference earlier ones.
# ---------------------------------------------------------------------------

GRAPH_VIEWS: dict[str, str] = {}

GRAPH_VIEWS["g_pages_base"] = """
SELECT
  o_orderkey AS page_id,
  CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE o_custkey % 50 END AS host_id
FROM orders
"""

GRAPH_VIEWS["g_pages"] = """
SELECT
  b.page_id,
  'host' || CAST(b.host_id AS STRING) || '.example.com' AS host,
  'https://host' || CAST(b.host_id AS STRING) || '.example.com/page/'
      || CAST(b.page_id AS STRING) AS url,
  CASE WHEN b.page_id % 20 = 19 THEN 404
       WHEN b.page_id % 20 = 18 THEN 503
       WHEN b.page_id % 20 = 17 THEN 301
       ELSE 200 END AS status,
  CASE WHEN b.page_id % 20 = 17
       THEN 'https://host' || CAST(b.host_id AS STRING) || '.example.com/page/'
            || CAST(b.page_id AS STRING) || '/'
       ELSE 'https://host' || CAST(b.host_id AS STRING) || '.example.com/page/'
            || CAST(b.page_id AS STRING) END AS final_url,
  CASE WHEN b.page_id % 10 = 6 THEN 'application/pdf'
       WHEN b.page_id % 10 = 7 THEN 'application/rss+xml; charset=utf-8'
       WHEN b.page_id % 10 = 8 THEN 'image/jpeg'
       WHEN b.page_id % 10 = 9 THEN 'application/octet-stream'
       WHEN b.page_id % 40 = 5 THEN 'audio/mpeg'
       WHEN b.page_id % 40 = 25 THEN 'video/mp4'
       ELSE 'text/html; charset=utf-8' END AS content_type,
  CAST((b.page_id * 37) % 1600 AS INT) AS text_len,
  b.page_id % 4 <> 0 AS has_main,
  b.page_id % 7 = 0 AS spa_mark,
  b.page_id % 11 = 0 AS js_required,
  b.page_id % 13 = 0 AS consent,
  b.page_id % 17 = 0 AS bot_wall,
  b.page_id % 23 = 0 AS rss_link,
  b.page_id % 29 = 0 AS youtube
FROM g_pages_base b
"""

# raw hrefs: noise classes 0..3 keyed on dst page id; every class
# canonicalizes back to the page url (SURVEY §2.3 F4)
GRAPH_VIEWS["g_links"] = """
SELECT
  k.src_page_id,
  k.doc_pos,
  k.dst_page_id,
  p.url AS dst_url,
  p.host AS dst_host,
  CASE WHEN k.doc_pos = 7 THEN 'Home'
       ELSE 'Link ' || CAST(k.l_partkey AS STRING) END AS text,
  CASE k.dst_page_id % 4
    WHEN 0 THEN p.url || '#frag'
    WHEN 1 THEN p.url || '/'
    WHEN 2 THEN upper(split_part(p.url, '/page/', 1)) || '/page/'
                || split_part(p.url, '/page/', 2)
    ELSE p.url END AS raw_url
FROM (
  -- doc_pos must be a total order within the page ((l_orderkey,
  -- l_linenumber) is NOT unique in the synthetic lineitem); full-row
  -- ORDER BY is deterministic because full rows are distinct
  SELECT l_orderkey AS src_page_id,
         CAST(row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
                    l_extendedprice, l_discount, l_tax, l_returnflag,
                    l_linestatus, l_shipdate
         ) AS INT) AS doc_pos,
         l_partkey,
         (l_orderkey * 131 + l_partkey * 31 + l_linenumber * 7)
             % (SELECT count(*) FROM orders) AS dst_page_id
  FROM lineitem
) k
JOIN g_pages p ON p.page_id = k.dst_page_id
"""

GRAPH_VIEWS["g_seeds"] = """
SELECT
  s.seed_idx,
  s.priority,
  s.dst_page_id,
  CASE s.c_custkey % 3
    WHEN 0 THEN p.url
    WHEN 1 THEN p.url || '/'
    ELSE p.url || '#top' END AS raw_url,
  p.url AS url,
  p.host AS host,
  CASE s.seed_idx % 5
    WHEN 0 THEN 'fast'
    WHEN 1 THEN 'js'
    ELSE 'auto' END AS mode,
  CASE WHEN s.seed_idx % 4 = 2 THEN 'accuracy' ELSE 'speed' END AS js_strategy,
  s.seed_idx % 3 = 1 AS llm_anonymize,
  -- per-request timeout override (reference schemas.py:116-128; NULL =
  -- use the global config). 5000 ms never trips the <=330 ms modeled
  -- costs, so crawl-ordering oracles are unaffected; outcome-flipping
  -- values are exercised by the fetch_timeout oracle and replay tests
  CASE WHEN s.seed_idx % 7 = 3 THEN CAST(5000 AS INT)
       ELSE CAST(NULL AS INT) END AS timeout_ms,
  -- per-request retry budget (schemas.py:130-141; NULL = config). The
  -- non-NULL mint equals the config default (1), so crawl oracles are
  -- unaffected; outcome flips are exercised in the fetch_timeout
  -- oracle's mode_cases mix
  CASE WHEN s.seed_idx % 9 = 4 THEN CAST(1 AS INT)
       ELSE CAST(NULL AS INT) END AS retries,
  -- per-request LLM gate (schemas.py:194-204, default false in the
  -- reference; the crawl mints a deterministic mix — steers only the
  -- LLM stage, never crawl ordering)
  s.seed_idx % 5 <> 2 AS llm_postprocess,
  -- per-request link-extraction gate (schemas.py:171-192; the
  -- reference default is false, but a crawl client re-POSTs with
  -- true — minted all-true so the crawl workload is identical across
  -- rounds; the false path is engine-gated and pytest-exercised with
  -- injected seeds)
  TRUE AS extract_links,
  -- per-request forced HTML tier (reference html_converter,
  -- schemas.py:44-53; NULL = automatic chain). The seed's whole
  -- subtree inherits it (a crawl client re-POSTs children with the
  -- parent's request), so conversions for these lineages use the
  -- forced tier — steers convert only, never crawl ordering
  CASE s.seed_idx % 11 WHEN 5 THEN 'full' WHEN 9 THEN 'strip'
       ELSE NULL END AS html_converter,
  -- per-request media policy (media_conversion_policy; NULL = config)
  CASE WHEN s.seed_idx % 13 = 6 THEN 'metadata' ELSE NULL END AS media_policy,
  -- per-request body cap (schemas.py:156-170; NULL = config). 200000
  -- never truncates oracle-scale minted payloads, so golden markdown
  -- is unaffected; truncating values are exercised by the
  -- truncate_text oracle's per-row override cases and pytest
  CASE WHEN s.seed_idx % 17 = 7 THEN CAST(200000 AS INT)
       ELSE CAST(NULL AS INT) END AS max_bytes,
  -- per-request trafilatura_clean_markdown (schemas.py:55-63; NULL =
  -- config TRUE): FALSE subtrees take the raw full-DOM text through
  -- the trafilatura tier
  CASE WHEN s.seed_idx % 19 = 4 THEN FALSE
       ELSE CAST(NULL AS BOOLEAN) END AS trafilatura_clean,
  -- per-request proxy / TLS override (schemas.py:105-115): live
  -- transport inputs; inert under the simulated fetch
  CASE WHEN s.seed_idx % 23 = 8 THEN 'proxy.example.com:8080'
       ELSE NULL END AS proxy,
  CASE WHEN s.seed_idx % 29 = 11 THEN TRUE
       ELSE CAST(NULL AS BOOLEAN) END AS allow_insecure_ssl,
  -- per-request LLM prompt override (llm_clean_prompt,
  -- schemas.py:206-226; NULL = default template)
  CASE WHEN s.seed_idx % 31 = 13 THEN 'ZUSAMMENFASSUNG der Seite bitte'
       ELSE NULL END AS llm_prompt
FROM (
  SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS seed_idx,
         CAST(c_custkey % 3 AS INT) AS priority,
         (c_custkey * 17) % (SELECT count(*) FROM orders) AS dst_page_id,
         c_custkey
  FROM customer
  WHERE c_custkey % 15 = 0
) s
JOIN g_pages p ON p.page_id = s.dst_page_id
"""

GRAPH_VIEWS["g_robots"] = """
SELECT
  'host' || CAST(n_nationkey AS STRING) || '.example.com' AS host,
  CASE WHEN n_nationkey % 5 = 0 THEN '/page/1' ELSE NULL END AS disallow_prefix,
  CAST(100 * (1 + n_nationkey % 3) AS INT) AS crawl_delay_ms
FROM nation
"""

# restricted-form canonicalization usable in BOTH dialects for graph-minted
# URLs only (the general UDF lives in functions/urls.py): strip #fragment,
# strip trailing slashes, lowercase scheme+host. Graph URLs carry no query.
def canon_sql(col: str) -> str:
    stripped = f"regexp_replace(split_part({col}, '#', 1), '/+$', '')"
    return (
        f"lower(split_part({stripped}, '/page/', 1)) || '/page/' || "
        f"split_part({stripped}, '/page/', 2)"
    )


def graph_with_clause(extra: dict[str, str] | None = None) -> str:
    """Compose the graph views into a `WITH a AS (...), b AS (...)` prefix."""
    views = dict(GRAPH_VIEWS)
    if extra:
        views.update(extra)
    parts = [f"{name} AS ({body})" for name, body in views.items()]
    return "WITH " + ",\n".join(parts)


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver parquet tables as temp views (idempotent).
    Each read carries the schema from its file footer, so registration
    submits no Spark job (inference costs one job per table)."""
    for name in BASE_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        schema = footer_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        reader.parquet(path).createOrReplaceTempView(name)


# one-slot registration memo: every query entry point calls
# register_graph_views, and each call re-reads 10 parquet footers and
# re-parses/analyzes 5 view bodies — ~0.3-0.9 s of pure driver work
# PER QUERY (r7 phase breakdown: 0.86 s of crawl_bfs_d1's warm wall was
# this). Temp views persist in the session and the definitions are
# constants, so re-registration for the same (context, sf_dir) is a
# semantic no-op — skip it. A different sf_dir (or a fresh context)
# re-registers and retakes the slot, so alternating directories stays
# correct; only view METADATA is memoized, never data or results.
_REGISTERED_KEY: list = [None]


def register_graph_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the synthetic graph as temp views on top of the testdata."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if _REGISTERED_KEY[0] == key:
        return
    register_testdata(spark, sf_dir)
    for name, body in GRAPH_VIEWS.items():
        spark.sql(body).createOrReplaceTempView(name)
    _REGISTERED_KEY[0] = key


# ---------------------------------------------------------------------------
# graph mirroring: R disjoint deterministic copies of the web (distinct
# URL space per mirror) for scale benchmarks. Pure DataFrame transform —
# no new data files; the driver parquet stays the single source. Mirror
# m rewrites 'hostH.example.com' -> 'hostH.m{m}.example.com' and offsets
# page ids by m * id_span, so the engine crawls an R× larger web with
# identical semantics per mirror.
# ---------------------------------------------------------------------------

def _mirrors_col(R: int):
    from pyspark.sql import functions as F

    return F.explode(F.sequence(F.lit(0), F.lit(R - 1))).alias("mirror")


def insert_mirror(col, mir_col):
    """'...X.example.com...' -> '...X.m{m}.example.com...'. Case-
    insensitive split so the uppercase raw-url noise class stays intact
    (the canonicalizer lowercases scheme+host downstream anyway)."""
    from pyspark.sql import functions as F

    parts = F.split(col, r"(?i)\.example\.com", 2)
    return F.concat(
        parts.getItem(0),
        F.lit(".m"), mir_col.cast("string"),
        F.lit(".example.com"),
        parts.getItem(1),
    )


def _rewrite_host_str(col):
    from pyspark.sql import functions as F

    return insert_mirror(col, F.col("mirror"))


# exact inverses of insert_mirror, evaluated on the (canonicalized,
# host-lowercased) frontier url. They let the per-round fetch join run
# against the BASE page table instead of an eagerly materialized R×
# copy: O(round) probe-side work, never O(R × corpus) per round — the
# same factoring _children_links already applies to the link table.

def extract_mirror(col):
    """'...X.m{m}.example.com...' -> m (long; NULL when absent)."""
    from pyspark.sql import functions as F

    return F.nullif(
        F.regexp_extract(col, r"\.m(\d+)\.example\.com", 1), F.lit("")
    ).cast("long")


def strip_mirror(col):
    """'...X.m{m}.example.com...' -> '...X.example.com...'."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, r"\.m\d+\.example\.com", ".example.com")


def mirror_pages(pages_df: DataFrame, R: int, id_span: int) -> DataFrame:
    from pyspark.sql import functions as F

    off = (F.col("mirror").cast("long") * id_span)
    return pages_df.select("*", _mirrors_col(R)).select(
        (F.col("page_id") + off).alias("page_id"),
        _rewrite_host_str(F.col("host")).alias("host"),
        _rewrite_host_str(F.col("url")).alias("url"),
        "status",
        _rewrite_host_str(F.col("final_url")).alias("final_url"),
        "content_type", "text_len", "has_main", "spa_mark",
        "js_required", "consent", "bot_wall", "rss_link", "youtube",
    )


def mirror_links(links_df: DataFrame, R: int, id_span: int) -> DataFrame:
    """Mirrors link rows; raw-url noise classes (g_links CASE) are
    re-derived from the mirrored dst_url so class-2's UPPERCASE noise
    stays well-formed."""
    from pyspark.sql import functions as F

    off = (F.col("mirror").cast("long") * id_span)
    m = links_df.select("*", _mirrors_col(R))
    dst_url = _rewrite_host_str(F.col("dst_url"))
    noise = (
        F.when(F.col("dst_page_id") % 4 == 0, F.concat(dst_url, F.lit("#frag")))
        .when(F.col("dst_page_id") % 4 == 1, F.concat(dst_url, F.lit("/")))
        .when(
            F.col("dst_page_id") % 4 == 2,
            F.concat(
                F.upper(F.split(dst_url, "/page/", 2).getItem(0)),
                F.lit("/page/"),
                F.split(dst_url, "/page/", 2).getItem(1),
            ),
        )
        .otherwise(dst_url)
    )
    return m.select(
        (F.col("src_page_id") + off).alias("src_page_id"),
        "doc_pos",
        (F.col("dst_page_id") + off).alias("dst_page_id"),
        dst_url.alias("dst_url"),
        _rewrite_host_str(F.col("dst_host")).alias("dst_host"),
        "text",
        noise.alias("raw_url"),
    )


def mirror_seeds(seeds_df: DataFrame, R: int, id_span: int) -> DataFrame:
    """seed_idx' = seed_idx * R + mirror interleaves mirrors in seed
    order (fair politeness across mirrors)."""
    from pyspark.sql import functions as F

    off = (F.col("mirror").cast("long") * id_span)
    return seeds_df.select("*", _mirrors_col(R)).select(
        (F.col("seed_idx") * R + F.col("mirror")).alias("seed_idx"),
        "priority",
        (F.col("dst_page_id") + off).alias("dst_page_id"),
        _rewrite_host_str(F.col("raw_url")).alias("raw_url"),
        _rewrite_host_str(F.col("url")).alias("url"),
        _rewrite_host_str(F.col("host")).alias("host"),
        *REQUEST_COLS,
    )


def mirror_robots(robots_df: DataFrame, R: int) -> DataFrame:
    from pyspark.sql import functions as F

    return robots_df.select("*", _mirrors_col(R)).select(
        _rewrite_host_str(F.col("host")).alias("host"),
        "disallow_prefix",
        "crawl_delay_ms",
    )


def pages(spark: SparkSession) -> DataFrame:
    return spark.table("g_pages")


def links(spark: SparkSession) -> DataFrame:
    return spark.table("g_links")


def seeds(spark: SparkSession) -> DataFrame:
    return spark.table("g_seeds")


def robots(spark: SparkSession) -> DataFrame:
    return spark.table("g_robots")
