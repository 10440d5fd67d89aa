"""URL canonicalization / host helpers.

The reference compares URLs only loosely — ``rstrip('/')`` equality for
the redirect flag (``app/main.py:473``) and hostname equality for
internal/external (``app/utils.py:70-77``). The north rule upgrades
this to a real canonical form: lowercase scheme+host, strip fragment,
sort query params, drop default ports, strip trailing slashes, plus a
SURT form for prefix-ordered storage.

Canonicalization and urljoin run as Arrow-vectorized pandas UDFs (no
JVM equivalent exists); everything else is a native Column expression
so it stays inside whole-stage codegen.
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": 80, "https": 443}


def canonicalize_one(url: str | None) -> str | None:
    """RFC3986-style canonical form (pure-Python scalar; shared by the
    pandas UDF and the golden replay crawler so both sides agree)."""
    if url is None:
        return None
    try:
        parts = urlsplit(url.strip())
        scheme = parts.scheme.lower()
        host = (parts.hostname or "").lower()
        port = parts.port
        netloc = host
        if port is not None and _DEFAULT_PORTS.get(scheme) != port:
            netloc = f"{host}:{port}"
        # the canonical form must be a FIXED POINT: a stored canonical
        # URL that re-canonicalizes to a different string hashes
        # differently and defeats the seen set on the service/resume
        # path. Three re-parse asymmetries found by property fuzzing
        # (pinned in tests/test_url_properties.py):
        # 1. trailing '/'+whitespace mixes in the path — dropping the
        #    fragment exposes them at end-of-string where the NEXT
        #    parse's input strip would eat them ('http://h/p/ #f');
        #    strip the mix here, not just trailing slashes
        path = parts.path
        while path and (path[-1] == "/" or path[-1].isspace()):
            path = path[:-1]
        # 2. empty netloc with a path starting '//' ('http:////x',
        #    'http://user@//x'): urlunsplit's '//' re-prefix makes the
        #    next parse read the path head as a netloc — collapse the
        #    leading run to one '/'
        if not netloc and path.startswith("//"):
            path = "/" + path.lstrip("/")
        query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
        # 3. dropping the fragment/query can expose whitespace at the
        #    end of the reassembled string that the input-side strip
        #    could not see — strip the OUTPUT too
        return urlunsplit((scheme, netloc, path, query, "")).strip()
    except (ValueError, AttributeError):
        return url


def surt_one(url: str | None) -> str | None:
    """SURT (Sort-friendly URI Reordering Transform) of the canonical
    form: reversed host labels + path, e.g.
    ``https://host0.example.com/page/1`` -> ``com,example,host0)/page/1``."""
    if url is None:
        return None
    canon = canonicalize_one(url)
    try:
        parts = urlsplit(canon)
        host = ",".join(reversed((parts.hostname or "").split(".")))
        tail = parts.path or ""
        if parts.query:
            tail += "?" + parts.query
        return f"{host}){tail}"
    except (ValueError, AttributeError):
        return canon


@pandas_udf(StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_one)


@pandas_udf(StringType())
def surt_url(urls: pd.Series) -> pd.Series:
    return urls.map(surt_one)


@pandas_udf(StringType())
def url_join(base: pd.Series, href: pd.Series) -> pd.Series:
    """Absolutize hrefs against their page URL (reference
    ``app/utils.py:46``: ``urljoin(base_url, href)`` per anchor)."""
    return pd.Series(
        [urljoin(b, h) if (b and h) else h for b, h in zip(base, href)]
    )


_A_TAG_RE = None  # compiled lazily (module import stays regex-free)
_OPEN_INTEREST_RE = None


# attr-region length cap: per-candidate scan work must be CONSTANT or
# a '>'-less page is O(starts x scan) no matter how the scan is coded
# (the old regex: 34 s / 60 KB; an uncapped find-jump scan: still ~3 s).
# No real anchor carries 4 KB of attributes; one that does is dropped.
_OPEN_ATTRS_CAP = 4096


def _open_end(html: str, j: int) -> tuple[int, int]:
    """Scan for the '>' ending an anchor open tag whose attr region
    starts at ``j``, honoring quoted strings (a '>' inside "..." or
    '...' does not end the tag) — the match set of the old
    ``((?:[^>"']|"[^"]*"|'[^']*')*)>`` group for attr regions up to
    ``_OPEN_ATTRS_CAP`` chars, via C-speed jumps to the next
    interesting char inside that bounded window.

    Returns ``(index, ops)``: the index of the closing '>' (or -1 when
    the tag never closes in-window, ending the match attempt as the
    legacy regex's failure did) plus the scan-work charge the caller
    debits from its per-page budget (jump count on success; on failure
    the scanned window distance in 64-char units)."""
    global _OPEN_INTEREST_RE
    import re

    if _OPEN_INTEREST_RE is None:
        _OPEN_INTEREST_RE = re.compile(r"[>\"']")
    j0 = j
    limit = j + _OPEN_ATTRS_CAP
    ops = 0
    # failures scanned the whole remaining window — charge by distance
    # (in 64-char units) so '>'-less soup drains the caller's budget at
    # the rate it actually costs; successes charge their jump count
    fail_cost = max(1, (min(limit, len(html)) - j0) // 64)
    while True:
        ops += 1
        m = _OPEN_INTEREST_RE.search(html, j, limit)
        if m is None:
            return -1, max(ops, fail_cost)
        c = m.group(0)
        if c == ">":
            return m.start(), ops
        k = html.find(c, m.end(), limit)
        if k == -1:
            return -1, max(ops, fail_cost)
        j = k + 1


def extract_links_one(html: str, base_url: str) -> list[tuple[int, str, str | None]]:
    """Anchor extraction from HTML bytes in DOCUMENT ORDER, mirroring
    the reference's ``extract_links_detailed_from_html``
    (``app/utils.py:126-155``: BS4 ``find_all('a', href=True)``, href
    stripped, text collapsed, ``urljoin(base_url, href)``). Returns
    1-based ``(doc_pos, absolute_url, text)`` — doc_pos is the anchor's
    ORIGINAL document position; per-page dedup is NOT done here (the
    engine's first-seen dedup downstream keeps the first occurrence,
    which is exactly the reference's order-preserving set walk).

    Script/style/comment regions are stripped FIRST (round-3 ADVICE):
    BS4 treats their contents as raw text, so an ``<a href>`` literal
    inside ``<script>``, ``<style>``, or ``<!-- -->`` is NOT a live
    link and must not feed the frontier. The attribute region accepts
    quoted strings containing ``>`` (``title="a>b"``) — matching how a
    real HTML tokenizer only ends the tag on an unquoted ``>``."""
    global _A_TAG_RE
    import re
    from bisect import bisect_left

    if _A_TAG_RE is None:
        _A_TAG_RE = (
            # anchor-open START only; the attr region and the body are
            # NOT spanned by regexes. The old one-regex form
            # (<a attrs>(.*?)</a\s*>) re-scanned from every unclosed
            # anchor to end-of-string — O(n^2) on broken HTML (measured
            # 1.2 s at 48 KB / 5.1 s at 96 KB of close-less <a> tags,
            # and 34 s at 60 KB of '>'-less '<a ' soup from the attr
            # group's own rescan: a multi-minute executor stall per
            # ~1 MB page on the live path). Start matches + the
            # quote-honoring _open_end jump scan + one linear close-tag
            # sweep + bisect keep identical matches in linear time.
            re.compile(r"<a\b", re.I),
            re.compile(r"""\bhref\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I),
            # dead-region opens (script/style/comment) + per-kind closes
            # via the linear strip_spans scanner — the old lazy
            # alternation re-scanned from every close-less open (same
            # O(n^2) class as the anchor regex this replaced)
            re.compile(r"<script\b|<style\b|<!--", re.I),
            {
                "script": re.compile(r"</script\s*>", re.I),
                "style": re.compile(r"</style\s*>", re.I),
                "comment": re.compile(r"-->"),
            },
            re.compile(r"</a\s*>", re.I),
        )
    a_open_re, href_re, dead_open_re, dead_close_res, a_close_re = _A_TAG_RE

    from volltextextraktion_selenium_md_spark.functions.text import (
        strip_spans,
        strip_tags,
    )

    def _dead_kind(m):
        t = m.group(0).lower()
        return "script" if t == "<script" else ("style" if t == "<style" else "comment")

    html = strip_spans(html, dead_open_re, dead_close_res, _dead_kind)
    # all close-tag positions up front (linear), consumed in order via
    # bisect — mirrors the old lazy match exactly: an anchor's body
    # runs to the FIRST close tag at/after its open tag's '>', the
    # matched span is consumed (opens inside a matched body do not
    # start a new match), and an open with no remaining close emits
    # nothing
    closes = [(m.start(), m.end()) for m in a_close_re.finditer(html)]
    out = []
    pos = 0
    cursor = 0
    # global scan budget: a normal page spends a handful of _open_end
    # jumps per anchor; only adversarial quote soup ('<a "' repeated)
    # can approach O(starts x cap/4) jumps. Past the budget, extraction
    # stops with what it has — a bounded-runtime divergence reachable
    # only on pages crafted to stall the parser
    scan_budget = max(100_000, 4 * len(html))
    for m in a_open_re.finditer(html):
        if m.start() < cursor:
            continue  # inside a previously matched anchor span
        if scan_budget <= 0:
            break
        g, ops = _open_end(html, m.end())
        scan_budget -= ops
        if g == -1:
            continue  # the open tag never closes: no match at this start
        i = bisect_left(closes, (g + 1, -1))
        if i == len(closes):
            # no close at/after THIS open's end — but not terminal: a
            # later start can parse a SHORTER open tag (quote parity
            # differs per start) whose end precedes a remaining close
            continue
        body_end, cursor = closes[i]
        hm = href_re.search(html, m.end(), g)
        if hm is None:
            continue
        href = (hm.group(1) or hm.group(2) or hm.group(3) or "").strip()
        if not href:
            continue
        pos += 1
        text = " ".join(strip_tags(html[g + 1:body_end]).split()) or None
        out.append((pos, urljoin(base_url, href) if base_url else href, text))
    return out


def url_host(col: Column | str) -> Column:
    """Hostname of a URL, lowercased (reference uses
    ``urlparse(...).hostname``, which lowercases)."""
    return F.lower(F.parse_url(F.col(col) if isinstance(col, str) else col, F.lit("HOST")))


def url_path(col: Column | str) -> Column:
    return F.parse_url(F.col(col) if isinstance(col, str) else col, F.lit("PATH"))


def is_internal(link: Column, base: Column) -> Column:
    """Hostname equality (reference ``app/utils.py:70-77``)."""
    return url_host(link) == url_host(base)


def redirect_flag(requested: Column, final: Column) -> Column:
    """``final_url.rstrip('/') != requested_url.rstrip('/')``
    (reference ``app/main.py:473``)."""
    return (
        F.regexp_replace(final, r"/+$", "") != F.regexp_replace(requested, r"/+$", "")
    )

