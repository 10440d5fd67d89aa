"""P5 preflight feature extraction from payload BYTES.

Re-derives the preflight feature struct from the fetched HTML itself,
mirroring the reference extractor (``app/preflight.py:99-110``):

- ``text_len``   : length of the visible text — tags stripped (script/
                   style/noscript content removed first, matching the
                   *intent* of ``soup.get_text(" ", strip=True)``),
                   whitespace collapsed to single spaces, trimmed.
- ``has_main``   : any of the content-root selectors present
                   (``main, article, #content, #main-content,
                   [role=main], #app, #__next, #root`` —
                   ``preflight.py:101``).
- ``spa_mark``   : any of the 4 framework markers in the lowercased
                   html (``preflight.py:103``).
- ``js_required``: ``(enable javascript|activate javascript|ohne
                   javascript)`` (``preflight.py:104``).
- ``consent``    : ``(consent|cookie|datenschutz).*?(accept|zustimmen|
                   einverstanden)`` (``preflight.py:105``).
- ``bot_wall``   : ``(captcha|just a moment|attention required|
                   cloudflare)`` (``preflight.py:106``).
- ``rss_link``   : ``<link type='application/rss+xml'|'application/
                   atom+xml'>`` present (``preflight.py:107``).

Documented divergence: BeautifulSoup's ``get_text`` counts text inside
``<script>``/``<style>`` blocks toward ``text_len``; that is an
artifact, not intent (script JSON is not "visible text" and would let
an embedded JSON blob flip the HTTP_ONLY cut), so this extractor
excludes it. Everything is Arrow-batched pandas — no per-row Python
outside the vectorized UDF (input_hint).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from volltextextraktion_selenium_md_spark.functions.text import (
    strip_spans,
    strip_tags,
)

# skip-block strip, linear form: the one-regex version
# (<(script|style|noscript)\b.*?</\1\s*>) re-scans from every
# close-less open to end-of-string — O(n^2) on broken HTML, inside the
# preflight feature probe that runs on every payload. strip_spans
# reproduces the lazy/backreference match set exactly (per-name closes)
_SKIP_OPEN_RE = re.compile(r"<(script|style|noscript)\b", re.I)
_SKIP_CLOSE_RES = {
    n: re.compile(rf"</{n}\s*>", re.I) for n in ("script", "style", "noscript")
}

# content-root selector list (preflight.py:101) as a structural probe:
# the named tags, or an id/role attribute equal to one of the named ids
_HAS_MAIN_RE = re.compile(
    r"<(main|article)\b"
    r"|\bid=['\"]?(content|main-content|app|__next|root)['\"\s>]"
    r"|\brole=['\"]?main['\"\s>]",
    re.I,
)

SPA_MARKERS = ("__next_data__", "window.__nuxt__", "ng-version", "__apollo_state__")

_JS_REQUIRED_RE = re.compile(
    r"(enable javascript|activate javascript|ohne javascript)", re.I
)
_CONSENT_RE = re.compile(
    r"(consent|cookie|datenschutz).*?(accept|zustimmen|einverstanden)", re.I
)
_BOT_WALL_RE = re.compile(
    r"(captcha|just a moment|attention required|cloudflare)", re.I
)
_RSS_LINK_RE = re.compile(
    r"<link[^>]*type=['\"]application/(rss|atom)\+xml['\"]", re.I
)

FEATURES_FIELDS = [
    T.StructField("text_len", T.IntegerType(), False),
    T.StructField("has_main", T.BooleanType(), False),
    T.StructField("spa_mark", T.BooleanType(), False),
    T.StructField("js_required", T.BooleanType(), False),
    T.StructField("consent", T.BooleanType(), False),
    T.StructField("bot_wall", T.BooleanType(), False),
    T.StructField("rss_link", T.BooleanType(), False),
]


def visible_text(html: str) -> str:
    """Tag-stripped, whitespace-collapsed visible text."""
    stripped = strip_spans(
        html, _SKIP_OPEN_RE, _SKIP_CLOSE_RES, lambda m: m.group(1).lower()
    )
    stripped = strip_tags(stripped)
    # ' '.join(split()) == regex \s+ collapse + strip, at C speed
    return " ".join(stripped.split())


# cheap substring pre-gates: the full regexes (with their non-greedy
# alternations) only run when a literal fragment is present — the
# common no-match page costs a handful of C-level `in` scans
_CONSENT_WORDS = ("consent", "cookie", "datenschutz")
_BOT_WORDS = ("captcha", "just a moment", "attention required", "cloudflare")
_RSS_WORDS = ("application/rss+xml", "application/atom+xml")


def extract_features_one(html: str) -> dict:
    """Pure scalar extractor (shared by the Spark UDF and unit tests)."""
    lower = html.lower()
    return {
        "text_len": len(visible_text(html)),
        "has_main": _HAS_MAIN_RE.search(html) is not None,
        "spa_mark": any(m in lower for m in SPA_MARKERS),
        "js_required": (
            "javascript" in lower
            and _JS_REQUIRED_RE.search(lower) is not None
        ),
        "consent": (
            any(w in lower for w in _CONSENT_WORDS)
            and _CONSENT_RE.search(lower) is not None
        ),
        "bot_wall": (
            any(w in lower for w in _BOT_WORDS)
            and _BOT_WALL_RE.search(lower) is not None
        ),
        "rss_link": (
            any(w in lower for w in _RSS_WORDS)
            and _RSS_LINK_RE.search(html) is not None
        ),
    }


def extract_features_stage(
    df: DataFrame, html_col: str = "html", keep: list[str] | None = None
) -> DataFrame:
    """mapInPandas feature-extraction pass: (keep..., html) ->
    (keep..., text_len, has_main, ..., rss_link). Arrow-batched; the
    regex work is the whole per-row cost, exactly like the reference's
    single-page probe but shuffled-free and partition-parallel."""
    keep = keep or [c for c in df.columns if c != html_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + FEATURES_FIELDS
    )
    names = [f.name for f in FEATURES_FIELDS]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [extract_features_one(h) for h in pdf[html_col]]
            res = pdf[keep].copy()
            for n in names:
                res[n] = [f[n] for f in feats]
            res["text_len"] = res["text_len"].astype("int32")
            yield res

    return df.mapInPandas(run, schema=out_schema)
