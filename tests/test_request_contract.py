"""The request-column contract at the stage entries: the fetch and
convert stages read every request column (schemas.REQUEST_COLS) by
name, and an absent column means exactly its REQUEST_COL_DEFAULTS
value — so a frame without the columns and the same frame with every
column set explicitly to its default give the same output."""

from __future__ import annotations

from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.plans.convert import (
    FEATURE_COLS,
    convert_stage,
)
from volltextextraktion_selenium_md_spark.plans.fetch import (
    live_fetch,
    simulated_fetch,
)
from volltextextraktion_selenium_md_spark.schemas import REQUEST_COL_DEFAULTS

# non-default config values, so a request column that failed to
# resolve against the config would show in the output
CFG = CrawlConfig(
    timeout_ms=100, retries=2, max_bytes=300, media_policy="metadata",
    proxy="http://proxy.example.com:8080", allow_insecure_ssl=True,
)

PAGES = [
    # url, page_id, status, content_type, text_len, has_main, spa_mark,
    # js_required, consent, bot_wall
    ("https://a.example.com/plain", 1, 200, "text/html; charset=utf-8",
     900, True, False, False, False, False),
    ("https://a.example.com/spa", 2, 200, "text/html; charset=utf-8",
     600, False, True, False, False, False),
    ("https://a.example.com/wall", 3, 200, "text/html; charset=utf-8",
     600, False, False, False, False, True),
    ("https://b.example.com/down", 4, 503, "text/html; charset=utf-8",
     600, True, False, False, False, False),
    ("https://b.example.com/clip", 5, 200, "video/mp4",
     0, False, False, False, False, False),
]


def _pages(spark):
    return spark.createDataFrame(
        [(u, pid, st, u, ct, tl, m, spa, js, c, w, False, False)
         for u, pid, st, ct, tl, m, spa, js, c, w in PAGES],
        "url string, page_id long, status int, final_url string, "
        "content_type string, text_len int, has_main boolean, "
        "spa_mark boolean, js_required boolean, consent boolean, "
        "bot_wall boolean, rss_link boolean, youtube boolean",
    )


def _with_defaults(df):
    """``df`` with every request column but ``mode`` set explicitly to
    its REQUEST_COL_DEFAULTS value."""
    for name, (dtype, default) in REQUEST_COL_DEFAULTS.items():
        df = df.withColumn(name, F.lit(default).cast(dtype))
    return df


def _rows(df, cols):
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple(str(v) for v in t),
    )


def _assert_same(stage, bare):
    absent = stage(bare)
    present = stage(_with_defaults(bare))
    assert _rows(absent, absent.columns) == _rows(present, absent.columns)


def _echo_factory():
    def factory():
        def call(url, user_agent, timeout_s, max_bytes, proxy=None, verify=True):
            body = f"proxy={proxy} verify={verify} t={timeout_s} m={max_bytes}"
            return 200, url, body.encode(), "text/html"

        return call

    return factory


def test_absent_request_columns_mean_their_defaults(spark):
    pages = _pages(spark)
    frontier = spark.createDataFrame(
        [(u, u.split("/")[2], 0, f"{i:06d}", mode, attempt, 0)
         for i, (u, *_rest) in enumerate(PAGES)
         for mode in ("auto", "js", "fast") for attempt in (0, 2)],
        "url string, host string, depth int, lineage string, mode string, "
        "attempt int, sched_slot_ms int",
    )
    _assert_same(lambda f: simulated_fetch(f, pages, CFG), frontier)
    _assert_same(
        lambda f: live_fetch(
            f, CFG, transport_factory=_echo_factory(), num_partitions=1
        ),
        frontier,
    )
    _assert_same(
        lambda f: convert_stage(f, CFG), pages.select(*FEATURE_COLS)
    )
