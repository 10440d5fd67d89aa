"""Classifier cascades as native Column expressions.

Three rule cascades from the reference, each re-expressed as an ordered
``F.when`` chain (whole-stage-codegen friendly — no Python in the hot
path). **Branch order is semantics** and mirrors the reference exactly:

- link category  : ``app/utils.py:79-123`` (10-way; e.g. a social-domain
  /login URL is 'social', not 'auth', because the social rule fires first)
- fetch strategy : ``app/preflight.py:61-124`` (PDF/RSS ctype guards
  before feature rules; bot_wall beats youtube beats rss_link ...)
- error page     : ``app/utils.py:18-36`` (markdown variant, 22 hints)
  and ``app/js_fetcher.py:645-686`` (raw-HTML variant, 27 patterns) —
  two distinct predicates, both kept.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.functions.urls import url_host, url_path

# --- link classification (reference app/utils.py:58-123) -------------------

SOCIAL_DOMAINS = [
    "twitter.com", "x.com", "facebook.com", "instagram.com", "linkedin.com",
    "youtube.com", "t.me", "tiktok.com", "mastodon.social", "github.com",
    "medium.com", "reddit.com",
]

DOWNLOAD_EXTS = [
    ".pdf", ".doc", ".docx", ".ppt", ".pptx", ".xls", ".xlsx",
    ".zip", ".rar", ".7z", ".csv", ".txt",
]

NAV_TEXTS = ["home", "start", "startseite", "nach oben", "top", "menu", "menü"]

_LEGAL_RE = r"/(impressum|datenschutz|privacy|agb|terms|cookies?)($|/)"
_AUTH_RE = r"/(login|logout|sign(in|out|up)|register)($|/)"
_SEARCH_RE = r"/(search|suche)($|/)|[?&](q|query|search|suche)="
_CONTACT_RE = r"/(contact|kontakt|support|help)($|/)"


def classify_link(url: Column, text: Column) -> Column:
    """10-way category cascade; input is the raw href (the reference
    classifies the raw href, not the absolutized URL)."""
    u = F.lower(url)
    host = F.coalesce(url_host(u), F.lit(""))
    path = F.coalesce(url_path(u), F.lit(""))
    # one anchored alternation per group instead of 12 endswith ORs —
    # same endswith semantics (no boundary before the alternative,
    # matching the reference's str.endswith), half the expression tree
    is_social = host.rlike("(" + "|".join(re.escape(d) for d in SOCIAL_DOMAINS) + ")$")
    is_download = path.rlike("(" + "|".join(re.escape(e) for e in DOWNLOAD_EXTS) + ")$")
    t = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    return (
        F.when(u.startswith("javascript:") | u.startswith("#"), "anchor")
        .when(is_social, "social")
        .when(u.rlike(_LEGAL_RE), "legal")
        .when(u.rlike(_AUTH_RE), "auth")
        .when(u.rlike(_SEARCH_RE), "search")
        .when(u.rlike(_CONTACT_RE), "contact")
        .when(is_download, "download")
        .when(t.isin(NAV_TEXTS), "nav")
        .otherwise("content")
    )


# --- strategy classifier (reference app/preflight.py:61-124) ----------------

# the reference's hard-coded text-length cuts: preflight's own
# HTTP_ONLY and thin-main cuts (app/preflight.py:119-122) and the
# looser auto-mode second-chance cut (app/main.py:343-349)
HTTP_ONLY_TEXT_LEN = 800
JS_LIGHT_THIN_TEXT_LEN = 500
SECOND_CHANCE_TEXT_LEN = 700


def classify_strategy(
    content_type: Column,
    final_url: Column,
    text_len: Column,
    has_main: Column,
    spa_mark: Column,
    js_required: Column,
    consent: Column,
    bot_wall: Column,
    rss_link: Column,
    youtube: Column,
) -> Column:
    """P4 cascade. Text-length cuts ``HTTP_ONLY_TEXT_LEN`` and
    ``JS_LIGHT_THIN_TEXT_LEN`` (800/500, ``preflight.py:119-122``);
    ctype guards from ``preflight.py:66-87`` run before feature rules."""
    ctype = F.lower(F.coalesce(content_type, F.lit("")))
    return (
        F.when(
            ctype.startswith("application/pdf")
            | F.lower(final_url).endswith(".pdf"),
            "PDF",
        )
        .when(
            ctype.contains("application/rss") | ctype.contains("application/atom+xml"),
            "RSS",
        )
        .when(bot_wall, "BLOCKED")
        .when(youtube, "YOUTUBE")
        .when(rss_link, "RSS")
        .when(
            (text_len >= HTTP_ONLY_TEXT_LEN)
            & (has_main | ~spa_mark)
            & ~js_required
            & ~consent,
            "HTTP_ONLY",
        )
        .when(
            (spa_mark | (has_main & (text_len < JS_LIGHT_THIN_TEXT_LEN))
             | js_required | consent)
            & consent,
            "JS_LIGHT_CONSENT",
        )
        .when(
            spa_mark | (has_main & (text_len < JS_LIGHT_THIN_TEXT_LEN))
            | js_required | consent,
            "JS_LIGHT",
        )
        .otherwise("HTTP_THEN_JS")
    )


# --- auto-mode fetch routing (reference app/main.py:315-371) -----------------

PREFLIGHT_SERVE_STRATEGIES = ("PDF", "RSS", "HTTP_ONLY", "YOUTUBE")


def route_fetch(
    mode: Column,
    strategy: Column,
    text_len: Column,
) -> Column:
    """Which fetcher serves the bytes — the reference's mode dispatch:

    - ``fast``  -> httpx directly (``main.py:315-324``)
    - ``js``    -> Selenium directly (``main.py:374-391``)
    - ``auto``  -> preflight, then (``main.py:334-371``):
        * strategy in {PDF, RSS, HTTP_ONLY, YOUTUBE} -> serve the
          preflight's own bytes, no second fetch (``main.py:334-340``)
        * HTTP_THEN_JS and text_len >= 700 -> serve preflight HTML —
          the SECOND-CHANCE cut, deliberately looser than preflight's
          own >=800 HTTP_ONLY cut (``main.py:343-349`` vs
          ``preflight.py:119``)
        * else (JS_LIGHT, JS_LIGHT_CONSENT, thin HTTP_THEN_JS,
          BLOCKED) -> Selenium refetch (``main.py:351-371``)
    """
    return (
        F.when(mode == "fast", "httpx")
        .when(mode == "js", "selenium")
        .when(strategy.isin(*PREFLIGHT_SERVE_STRATEGIES), "preflight_bytes")
        .when(
            (strategy == "HTTP_THEN_JS") & (text_len >= SECOND_CHANCE_TEXT_LEN),
            "preflight_bytes",
        )
        .otherwise("selenium")
    )


# --- error-page predicates (two variants) ----------------------------------

ERROR_HINTS_MD = [
    "404", "not found", "page not found", "access denied", "forbidden", "error",
    "temporarily unavailable", "maintenance", "bad gateway", "gateway timeout",
    "service unavailable", "captcha", "bot detection", "cloudflare",
    "seite nicht gefunden", "nicht gefunden", "fehler", "zugriff verweigert",
    "vorübergehend nicht verfügbar", "wartung", "nicht erreichbar",
    "cookie erforderlich",
]

ERROR_HINTS_HTML = [
    "seite wurde nicht gefunden", "seite nicht gefunden", "fehler 404",
    "404 fehler", "seite existiert nicht", "gewünschte seite", "server fehler",
    "interner fehler", "temporär nicht verfügbar",
    "page not found", "404 error", "not found", "page does not exist",
    "server error", "internal error", "temporarily unavailable", "access denied",
    "verifying you are human", "checking your browser", "cloudflare",
    "bot protection", "security check", "please wait", "loading...",
    "javascript required", "javascript wird benötigt", "enable javascript",
]


def _hints_regex(hints: list[str]) -> str:
    return "|".join(re.escape(h) for h in hints)


def error_page_detected(text: Column, status: Column) -> Column:
    """Markdown variant (``detect_error_page``, app/utils.py:18-36):
    status>=400 OR any hint substring in lowercased text. One compiled
    rlike with alternation instead of 22 ``contains`` passes."""
    return (status.isNotNull() & (status >= 400)) | F.lower(
        F.coalesce(text, F.lit(""))
    ).rlike(_hints_regex(ERROR_HINTS_MD))


def error_page_detected_html(html_text: Column) -> Column:
    """Raw-HTML variant used inside the JS path
    (``_detect_error_pages``, app/js_fetcher.py:645-686) — larger
    pattern list, no status input."""
    return F.lower(F.coalesce(html_text, F.lit(""))).rlike(
        _hints_regex(ERROR_HINTS_HTML)
    )
