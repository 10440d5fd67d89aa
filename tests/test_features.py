"""P5 feature extraction + auto-mode routing (SURVEY §2.2 P4/P5,
reference app/preflight.py:99-124 and app/main.py:334-371)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.functions.classify import (
    HTTP_ONLY_TEXT_LEN,
    SECOND_CHANCE_TEXT_LEN,
    route_fetch,
)
from volltextextraktion_selenium_md_spark.functions.features import (
    extract_features_one,
)
from volltextextraktion_selenium_md_spark.plans import queries as Q


def test_extractor_markers_golden():
    """Each reference marker (preflight.py:99-110) flips exactly its
    own feature bit."""
    base = extract_features_one("<html><body><p>hello world</p></body></html>")
    assert base == {
        "text_len": len("hello world"),
        "has_main": False, "spa_mark": False, "js_required": False,
        "consent": False, "bot_wall": False, "rss_link": False,
    }
    assert extract_features_one("<main>x</main>")["has_main"]
    assert extract_features_one("<article>x</article>")["has_main"]
    assert extract_features_one("<div id='main-content'>x</div>")["has_main"]
    assert extract_features_one("<div role=main>x</div>")["has_main"]
    assert extract_features_one("<script>window.__NEXT_DATA__={}</script>")["spa_mark"]
    assert extract_features_one("<script>window.__NUXT__={}</script>")["spa_mark"]
    assert extract_features_one("<p>Please enable JavaScript now</p>")["js_required"]
    assert extract_features_one("<p>Ohne JavaScript geht nichts</p>")["js_required"]
    assert extract_features_one("<p>cookie banner: accept all</p>")["consent"]
    assert extract_features_one("<p>Datenschutz ... einverstanden</p>")["consent"]
    assert extract_features_one("<p>Just a moment...</p>")["bot_wall"]
    assert extract_features_one("<p>solve this CAPTCHA</p>")["bot_wall"]
    assert extract_features_one(
        "<link rel='alternate' type='application/rss+xml' href='/f'>"
    )["rss_link"]
    assert extract_features_one(
        '<link type="application/atom+xml">'
    )["rss_link"]
    # script/style/noscript text is invisible to text_len
    assert extract_features_one(
        "<style>p{}</style><script>var x=1</script><p>ab</p>"
    )["text_len"] == 2


def test_preflight_features_closed_loop(spark):
    """Extracted-from-bytes features == the minted g_pages bits for
    EVERY html page at sf0.001 (the oracle gate re-checks at sf0.01)."""
    got = Q.q_preflight_features(spark, SF_SMALL)
    graph.register_graph_views(spark, SF_SMALL)
    want = graph.pages(spark).filter(
        F.col("content_type").startswith("text/html")
    ).select(
        "page_id", "has_main", "spa_mark", "js_required",
        "consent", "bot_wall", "rss_link",
    )
    joined = got.alias("g").join(want.alias("w"), on="page_id")
    bad = joined.filter(
        " OR ".join(f"g.{c} <> w.{c}" for c in
                    ("has_main", "spa_mark", "js_required",
                     "consent", "bot_wall", "rss_link"))
    ).count()
    assert bad == 0
    assert got.count() == want.count() > 0


def test_second_chance_700_vs_800_asymmetry(spark):
    """The auto-mode second-chance cut (main.py:343-349) is 700 — pages
    with preflight text in [700, 800) are NOT HTTP_ONLY (preflight's
    own cut is 800, preflight.py:119) yet still serve preflight bytes."""
    assert (SECOND_CHANCE_TEXT_LEN, HTTP_ONLY_TEXT_LEN) == (700, 800)
    rows = [
        # (strategy, text_len, mode) -> expected route
        ("HTTP_THEN_JS", 750, "auto", "preflight_bytes"),  # the asymmetry window
        ("HTTP_THEN_JS", 699, "auto", "selenium"),
        ("HTTP_THEN_JS", 700, "auto", "preflight_bytes"),  # boundary inclusive
        ("HTTP_ONLY", 900, "auto", "preflight_bytes"),
        ("PDF", 0, "auto", "preflight_bytes"),
        ("JS_LIGHT", 900, "auto", "selenium"),
        ("JS_LIGHT_CONSENT", 750, "auto", "selenium"),
        ("BLOCKED", 900, "auto", "selenium"),
        ("HTTP_THEN_JS", 900, "fast", "httpx"),
        ("HTTP_THEN_JS", 900, "js", "selenium"),
    ]
    df = spark.createDataFrame(
        [(s, t, m) for s, t, m, _ in rows], ["strategy", "text_len", "mode"]
    ).withColumn(
        "route",
        route_fetch(F.col("mode"), F.col("strategy"), F.col("text_len")),
    )
    got = [r["route"] for r in df.collect()]
    assert got == [e for _, _, _, e in rows]
