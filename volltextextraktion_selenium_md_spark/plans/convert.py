"""Convert stage: bytes -> Markdown, one Arrow-batched mapInPandas pass.

Re-expresses the reference's conversion chain (``bytes_to_markdown``,
``app/converter.py:117-342``) for the distributed engine:

- payload bytes are minted deterministically per page (the sandbox has
  no network; FIXTURES.md §2 'bytes ... embed features for P5'),
- the chain itself is faithful in structure:
    P8  mislabeled-PDF guard        (converter.py:138-142)
    P9  octet-stream bypass         (converter.py:143-150)
    C2  noscript/js-hint pre-clean  (converter.py:163-206)
    C3  embedded-JSON (KMap) probe  (converter.py:416-641, gate :195-204)
    C1  converter chain main->full->strip with error isolation
        (converter.py:208-246; bs4/trafilatura/markitdown replaced by a
        stdlib-HTMLParser extractor with the same 3-tier fallback)
    C6  media policy               (converter.py:155-158, 253-282)
    C8  circuit breaker            (converter.py:32-36, 285-334;
        partition-local here — documented divergence from the
        reference's process-global state)
    C9  error containment template (app/main.py:408-420)
    C4/C5 math + table polish      (converter.py:45-114)
- image rows additionally decode through the codec and emit the
  Iceberg payload-table columns (image_id/bytes/w/h/fmt/caption/phash,
  BASELINE.json input_hint).

No per-row Python outside this stage; inside it, work is vectorized
where numpy applies (image decode) and plain string ops otherwise —
all within one Arrow batch pipeline.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.types as T

from volltextextraktion_selenium_md_spark import codec
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions import text as _text
from volltextextraktion_selenium_md_spark.functions.text import (
    enhance_table_structure_py,
    strip_tags,
)
from volltextextraktion_selenium_md_spark.schemas import with_request_cols

# ---------------------------------------------------------------------------
# deterministic payload minting (replaces the network body)
# ---------------------------------------------------------------------------

_WORDS = [
    "data", "graph", "spark", "crawl", "frontier", "page", "link", "queue",
    "host", "fetch", "parse", "markdown", "image", "caption", "index", "batch",
]


# the word stream `_WORDS[(pid + 7i) % 16]` is periodic with period 16,
# so the infinite space-joined stream is a repetition of one of 16
# stride-7 cycles selected by pid%16 — precompute them once and slice,
# instead of appending ~text_len/5 words per call (the word loop was
# 62% of the scale-64 convert profile; identical output, golden-tested)
_CYCLES = [
    " ".join(_WORDS[(s + i * 7) % len(_WORDS)] for i in range(len(_WORDS))) + " "
    for s in range(len(_WORDS))
]


def _body_text(page_id: int, text_len: int) -> str:
    if text_len <= 0:
        return ""
    cyc = _CYCLES[page_id % len(_WORDS)]
    body = (cyc * (text_len // len(cyc) + 2))[:text_len]
    # never end on a space: the preflight feature extractor measures
    # whitespace-collapsed visible text, so a sliced trailing space
    # would shift text_len by one (length is preserved)
    if body.endswith(" "):
        body = body[:-1] + "x"
    return body


def mint_payload(row: dict, scale: int = 1) -> bytes:
    """Deterministic response body for a page row (feature-faithful:
    the HTML embeds exactly the markers the preflight features claim).
    `scale` multiplies body/image size toward web-realistic payloads
    (CrawlConfig.payload_scale); 1 is the oracle-checked test scale."""
    pid = int(row["page_id"])
    ctype = row["content_type"]
    if ctype.startswith("image/"):
        s = max(int(scale ** 0.5), 1)
        return codec.encode(codec.synth_image(pid, w=24 * s, h=16 * s), "jpeg")
    if ctype.startswith("application/pdf"):
        if pid % 20 == 16:  # mislabeled-PDF guard case (P8)
            return b"<html><body>not actually a pdf</body></html>"
        return b"%PDF-1.4 " + _body_text(pid, 200 * scale).encode()
    if ctype.startswith("application/octet-stream"):
        return bytes([pid % 256]) * 64
    if ctype.startswith("audio/") or ctype.startswith("video/"):
        # opaque media body; only the deterministic LENGTH matters (the
        # metadata policy reports size_bytes)
        return bytes([(pid + 1) % 256]) * (64 + pid % 1000)
    if ctype.startswith("application/rss"):
        items = "".join(
            f"<item><title>entry {pid}-{i}</title></item>" for i in range(3 * scale)
        )
        return f"<rss><channel><title>feed {pid}</title>{items}</channel></rss>".encode()

    # text/html — the page embeds EXACTLY the markers its preflight
    # feature bits claim (P5 closed loop: functions/features.py
    # re-derives every bit from these bytes; reference markers from
    # app/preflight.py:99-110)
    head = "<head><title>page %d</title>" % pid
    if row.get("rss_link"):
        head += "<link rel='alternate' type='application/rss+xml' href='/feed'>"
    if pid % 31 == 0 and pid % 62 == 0:
        # half the KMap pages carry a <base> (reference resolves
        # inline: refs against it, converter.py:494-503)
        head += "<base href='/app/'>"
    head += "</head>"
    parts = ["<html>" + head + "<body>"]
    if row.get("bot_wall"):
        parts.append("<div class='wall'>Attention Required! cloudflare</div>")
    if row.get("spa_mark"):
        parts.append("<script>window.__NEXT_DATA__={}</script>")
    if row.get("js_required"):
        parts.append("<noscript><div>Please enable JavaScript to view.</div></noscript>")
    if row.get("consent"):
        parts.append("<div class='consent'>cookie consent: accept</div>")
    if pid % 31 == 0:  # KMap embedded-topic page (C3)
        # attachment-bearing topic payload (reference converter.py:
        # 416-641): deterministic attachments cycle through the tagged
        # sections, the description embeds inline: refs (attr + bare)
        # that the extractor must rewrite through the attachments map,
        # and one untagged attachment is already linked so the Anhänge
        # skip rule is exercised
        n_att = (pid // 31) % 4  # 0..3 attachments
        tags = ["explanation", "idea", "usage", ""]
        atts = [
            {
                "file": f"a{i}.png",
                "href": f"files/{pid}_{i}.png",
                "name": f"Att {pid}-{i}",
                "tag": tags[(pid // 31 + i) % 4],
            }
            for i in range(n_att)
        ]
        desc = f"<p>Topic {pid} description " + _body_text(pid, 900 * scale) + "</p>"
        if n_att >= 1:
            desc += "<p><img src=\"inline:a0.png\"> see inline:a0.png</p>"
        topic: dict = {"description": desc}
        if atts:
            topic["attachments"] = atts
        if pid % 3 == 0:
            topic["subject"] = f"Subject {pid % 7}"
        if pid % 2 == 0:
            topic["title"] = f"Topic {pid}"
            topic["chapter"] = f"Chapter {pid % 5}"
        parts.append(
            f"<script id='embedded-topic' type='application/json'>{json.dumps(topic)}</script>"
        )
    elif pid % 29 == 7:
        # tiny embedded fragment: the universal gate rejects it
        # (<800 chars) and FORCES the full-DOM tier, overriding any
        # per-request html_converter (converter.py:199-204)
        tiny = {"description": f"<p>stub {pid}</p>"}
        parts.append(
            f"<script id='embedded-topic' type='application/json'>{json.dumps(tiny)}</script>"
        )
    body = _body_text(pid, int(row["text_len"]) * scale)
    if row.get("has_main"):
        parts.append(f"<main><h1>Page {pid}</h1><p>{body}</p></main>")
    else:
        parts.append(f"<div><p>{body}</p></div>")
    if pid % 37 == 0:  # table polish case (C5)
        parts.append("<pre>| a | b |\n| 1 | 2 |</pre>")
    if pid % 41 == 0:  # math polish case (C4)
        parts.append("<p>E = mc2 and f(x) applies</p>")
    parts.append("</body></html>")
    return "".join(parts).encode()


# ---------------------------------------------------------------------------
# stdlib HTML -> text extraction (bs4/trafilatura/markitdown stand-ins)
# ---------------------------------------------------------------------------

class _TextExtract(HTMLParser):
    """Tag-stripping text extractor; optionally restricted to <main>
    (the trafilatura-like 'content only' tier)."""

    _SKIP = {"script", "style", "noscript"}

    def __init__(self, main_only: bool = False):
        super().__init__()
        self.main_only = main_only
        self._in_main = 0
        self._skip = 0
        self.chunks: list[str] = []
        self.headings: list[tuple[int, str]] = []
        self._heading: int | None = None

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip += 1
        if tag == "main":
            self._in_main += 1
        if tag in ("h1", "h2", "h3"):
            self._heading = int(tag[1])

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip:
            self._skip -= 1
        if tag == "main" and self._in_main:
            self._in_main -= 1
        if tag in ("h1", "h2", "h3"):
            self._heading = None

    def handle_data(self, data):
        if self._skip:
            return
        if self.main_only and not self._in_main:
            return
        txt = data.strip()
        if not txt:
            return
        if self._heading:
            self.chunks.append("#" * self._heading + " " + txt)
        else:
            self.chunks.append(txt)


_NOSCRIPT_OPEN_RE = re.compile(r"<noscript\b", re.I)
_NOSCRIPT_CLOSE_RE = re.compile(r"</noscript>", re.I)
# js-hint container strip, linear form. The old one-regex version
# (<[^>]+(?:id|class)=...hint...>.{0,200}?</[^>]+>) was O(n^2) twice
# over: the unbounded leading <[^>]+ re-scanned to end-of-string from
# every '<' on '>'-less HTML (measured 21 s on 60 KB of '<a ' repeats —
# hours at ~1 MB, inside _preclean which runs on EVERY html payload).
# The scan below visits each '<'..'>' tag once, runs the hint regex on
# the TAG TEXT only, and probes a bounded window for the closing tag;
# a hint-free tag span is skipped wholesale (a later '<' inside it
# searches a subrange of the failed search, so it cannot match either).
_HINT_ATTR_RE = re.compile(
    r"(?:id|class)=['\"]?[^'\">]*(?:no-?js|js-disabled|enable-js|javascript)",
    re.I,
)
# attr regions bounded to 4096 chars (urls.py's _OPEN_ATTRS_CAP
# precedent): an unbounded [^>]* in an OPEN pattern re-scans to
# end-of-string from every failed open attempt once the input runs out
# of '>' — measured 19 s on 200 KB / 79 s on 400 KB (4x per 2x) of
# "</script>" + "<script x "-soup inside _tag_spans. No real tag
# carries 4 KB of attributes; one that does simply stops matching, the
# same outcome the legacy regex's failure had. (_tag_spans additionally
# bounds its open scan at the last close — see its docstring.)
_OPEN_ATTRS_CAP = 4096
_KMAP_OPEN_RE = re.compile(
    r"<script[^>]{0,%d}id=['\"]embedded-topic['\"][^>]{0,%d}>"
    % (_OPEN_ATTRS_CAP, _OPEN_ATTRS_CAP),
    re.I,
)
_SCRIPT_OPEN_RE = re.compile(r"<script([^>]{0,%d})>" % _OPEN_ATTRS_CAP, re.I)
_SCRIPT_CLOSE_RE = re.compile(r"</script>", re.I)
_SCRIPT_TYPE_RE = re.compile(r"type=['\"]([^'\"]*)['\"]", re.I)
_BASE_HREF_RE = re.compile(
    r"<base\b[^>]{0,%d}href=['\"]([^'\"]*)['\"]" % _OPEN_ATTRS_CAP, re.I
)
_TITLE_OPEN_RE = re.compile(r"<title[^>]{0,%d}>" % _OPEN_ATTRS_CAP, re.I)
_TITLE_CLOSE_RE = re.compile(r"</title>", re.I)
_INLINE_ATTR_RE = re.compile(r"(src|href)=[\"']inline:([^\"']+)[\"']")
_INLINE_BARE_RE = re.compile(r"inline:([^\s\"'>)]+)")


def _tag_spans(html: str, open_re, close_re):
    """Lazy-matched ``<open ...> body </close>`` spans in LINEAR time.

    Exactly the matches ``open(.*?)close`` produces — an open's body
    runs to the first close at/after the open tag's end, the whole
    span is consumed (opens inside a matched body don't re-match), and
    an open past the last close matches nothing — but without the
    O(n^2) rescan the lazy regex pays on broken HTML (every close-less
    open re-scans to end-of-string: measured ~4x wall per 2x input at
    tens of KB of unclosed <script>/<noscript>/<title> tags; the
    convert kernel runs these over every html payload, so a ~1 MB
    malformed page would stall an executor task for minutes).

    Yields ``(open_match, body_start, body_end, span_end)``."""
    closes = [(m.start(), m.end()) for m in close_re.finditer(html)]
    if not closes:
        return
    from bisect import bisect_left

    cursor = 0
    # an open can only yield if a close starts at/after its end, so no
    # useful open match extends past the LAST close's start — bound the
    # scan there (finditer endpos). Without this, a single close ahead
    # of '>'-less open soup ("</script>" + "<script x " * 20k) passed
    # the empty-closes guard above and every failed open attempt
    # re-scanned toward end-of-string: 19 s / 200 KB, 4x per 2x. Safe
    # for every open pattern used here: matches are pure spans (the one
    # trailing-context case, _NOSCRIPT_OPEN_RE's \b, sits against the
    # close's leading '<' — a non-word char — exactly when the bound
    # truncates there, so the \b verdict is unchanged).
    for m in open_re.finditer(html, 0, closes[-1][0]):
        if m.start() < cursor:
            continue
        i = bisect_left(closes, (m.end(), -1))
        if i == len(closes):
            break
        body_end, cursor = closes[i]
        yield m, m.end(), body_end, cursor


def _strip_tag_spans(html: str, open_re, close_re) -> str:
    """``re.sub('', ...)`` of the lazy tag-span pattern, linear-time."""
    out = []
    prev = 0
    for m, _bs, _be, span_end in _tag_spans(html, open_re, close_re):
        out.append(html[prev:m.start()])
        prev = span_end
    if prev == 0:
        return html
    out.append(html[prev:])
    return "".join(out)


def _rss_titles(text: str) -> list[str]:
    """Linear twin of ``re.findall(r"<title>(.*?)</title>", text)``
    (no DOTALL, so a match never crosses a newline — per-line str.find
    preserves the exact match set and order without the lazy regex's
    quadratic rescan on a one-line close-less feed)."""
    titles = []
    for line in text.split("\n"):
        start = 0
        while True:
            o = line.find("<title>", start)
            if o == -1:
                break
            c = line.find("</title>", o + 7)
            if c == -1:
                break
            titles.append(line[o + 7:c])
            start = c + 8
    return titles


def _strip_js_hints(html: str) -> str:
    """Drop short enable-javascript containers: a tag whose id/class
    carries a js hint, at most 200 body chars, then any closing tag —
    the old ``_JS_HINT_RE.sub("")`` semantics, linear-time (see the
    _HINT_ATTR_RE comment)."""
    out = []
    prev = 0
    i = html.find("<")
    while i != -1:
        g = html.find(">", i + 1)
        if g == -1:
            break
        # hint search starts at i+2, not i+1: the legacy pattern was
        # "<[^>]+(?:id|class)=..." — at least ONE char between '<' and
        # the hint attribute, so "<id=no-js>x</p>" must NOT strip
        # (golden-pinned in test_convert_linear_scan.py)
        if g > i + 1 and _HINT_ATTR_RE.search(html, i + 2, g):
            # bounded close-tag probe: '</' must START within 200 chars
            # of the body; its name and '>' may extend past the window
            j = html.find("</", g + 1)
            end = None
            while j != -1 and j <= g + 201:
                k = html.find(">", j + 2)
                if k == -1:
                    break  # no '>' left anywhere: nothing can close
                if k > j + 2:  # close tag needs >=1 name char
                    end = k + 1
                    break
                j = html.find("</", j + 1)
            if end is not None:
                out.append(html[prev:i])
                prev = end
                i = html.find("<", end)
                continue
        # miss: every '<' before this tag's '>' sees a subrange of the
        # failed search, so jump straight past the '>'
        i = html.find("<", (g + 1) if g > i + 1 else (i + 1))
    if prev == 0:
        return html
    out.append(html[prev:])
    return "".join(out)


def _preclean(html: str) -> str:
    """C2: drop <noscript> and short enable-javascript containers
    (converter.py:163-206)."""
    html = _strip_tag_spans(html, _NOSCRIPT_OPEN_RE, _NOSCRIPT_CLOSE_RE)
    return _strip_js_hints(html)


def _json_salvage(txt: str) -> dict | None:
    """Direct JSON parse, then the balanced-object salvage the reference
    applies to CDATA/comment-wrapped embedded-topic payloads
    (converter.py:432-446)."""
    txt = txt.strip()
    if not txt:
        return None
    try:
        obj = json.loads(txt)
        return obj if isinstance(obj, dict) else None
    except Exception:
        start, end = txt.find("{"), txt.rfind("}")
        if start != -1 and end > start:
            try:
                obj = json.loads(txt[start:end + 1])
                return obj if isinstance(obj, dict) else None
            except Exception:
                return None
        return None


def _kmap_payload(html: str) -> dict | None:
    """C3 payload discovery (converter.py:429-471): the historic
    <script id='embedded-topic' type=json> tag first (with salvage),
    else a universal scan of json/ld+json scripts for a dict carrying
    description/articleBody — directly or under mainEntity/article/
    item (direct parse only, as the reference does there)."""
    for _m, bs, be, _e in _tag_spans(html, _KMAP_OPEN_RE, _SCRIPT_CLOSE_RE):
        obj = _json_salvage(html[bs:be])
        if obj is not None:
            return obj
        break  # first embedded-topic script only (regex search parity)
    for attrs, body in (
        (m.group(1), html[bs:be])
        for m, bs, be, _e in _tag_spans(html, _SCRIPT_OPEN_RE, _SCRIPT_CLOSE_RE)
    ):
        tm = _SCRIPT_TYPE_RE.search(attrs)
        t = (tm.group(1).strip().lower() if tm else "")
        if t not in ("", "json", "application/json", "application/ld+json"):
            continue
        if not body.strip():
            continue
        try:
            obj = json.loads(body.strip())
        except Exception:
            continue
        if isinstance(obj, dict):
            if any(k in obj for k in ("description", "articleBody")):
                return obj
            ent = obj.get("mainEntity") or obj.get("article") or obj.get("item")
            if isinstance(ent, dict) and any(
                k in ent for k in ("description", "articleBody")
            ):
                return ent
    return None


# attachment tag -> semantic section title (converter.py:594-598)
_KMAP_TAG_TITLES = {
    "explanation": "Erklärungen",
    "idea": "Vorstellung",
    "usage": "Anwendungen",
}


def _kmap_markdown(html: str) -> str | None:
    """C3: compose markdown from an embedded JSON topic payload
    (reference ``_extract_kmap_markdown``, converter.py:416-641):
    headers from subject/chapter/title, the description HTML converted
    through the full-text tier (MarkItDown stand-in), ``inline:``
    references rewritten through the attachments map prefixed with the
    page's <base> href, and attachments sectionized by tag
    (explanation/idea/usage -> Erklärungen/Vorstellung/Anwendungen,
    untagged -> Anhänge unless already linked in the description).
    Returns the UNGATED markdown; the <800-char gate and its
    force-full-DOM fall-through live at the convert_bytes call site
    (converter.py:199-204)."""
    payload = _kmap_payload(html)
    if payload is None:
        return None

    def first_str(d: dict, keys: list[str]) -> str | None:
        for k in keys:
            v = d.get(k)
            if isinstance(v, str) and v.strip():
                return v
        return None

    title = first_str(payload, ["title", "headline", "name", "topic"])
    if title is None:
        for _m, bs, be, _e in _tag_spans(html, _TITLE_OPEN_RE, _TITLE_CLOSE_RE):
            if html[bs:be].strip():
                title = html[bs:be].strip()
            break  # first <title> only (regex search parity)
    chapter = payload.get("chapter")
    chapter = chapter if isinstance(chapter, str) else None
    subject = payload.get("subject")
    subject = subject if isinstance(subject, str) else None
    desc_html = first_str(payload, ["description", "articleBody"]) or ""
    attachments = payload.get("attachments")
    attachments = attachments if isinstance(attachments, list) else []

    att_map: dict[str, str] = {}
    for att in attachments:
        if not isinstance(att, dict):
            continue
        fname, href = att.get("file") or "", att.get("href") or ""
        if fname and href:
            att_map[fname] = href

    bm = _BASE_HREF_RE.search(html)
    base_href = (bm.group(1).strip() if bm else "") or "/"
    if not base_href.startswith("http") and not base_href.startswith("/"):
        base_href = "/" + base_href

    def full_url(target: str) -> str:
        if target.startswith(("http://", "https://")):
            return target
        if base_href.endswith("/") and target.startswith("/"):
            return base_href[:-1] + target
        if not base_href.endswith("/") and not target.startswith("/"):
            return base_href + "/" + target
        return base_href + target

    def attr_sub(m: re.Match) -> str:
        target = att_map.get(m.group(2))
        if not target:
            return f'{m.group(1)}="inline:{m.group(2)}"'
        return f'{m.group(1)}="{full_url(target)}"'

    def bare_sub(m: re.Match) -> str:
        target = att_map.get(m.group(1))
        return full_url(target) if target else m.group(0)

    desc_html = _INLINE_ATTR_RE.sub(attr_sub, desc_html)
    desc_html = _INLINE_BARE_RE.sub(bare_sub, desc_html)
    desc_md = _extract(desc_html, main_only=False).strip()

    header_lines = []
    if subject:
        header_lines.append(f"# {subject}")
    if chapter and title:
        header_lines.append(f"## {chapter} – {title}")
    elif title:
        header_lines.append(f"# {title}")

    parts = []
    if header_lines:
        parts.append("\n".join(header_lines))
    if desc_md:
        parts.append(desc_md)

    section_items: dict[str, list[str]] = {
        v: [] for v in _KMAP_TAG_TITLES.values()
    }
    generic_items: list[str] = []
    for att in attachments:
        if not isinstance(att, dict):
            continue
        tag = (att.get("tag") or "").strip().lower()
        name = att.get("name") or att.get("file") or ""
        if not name:
            continue
        href = att.get("href") or att_map.get(att.get("file") or "", "")
        full = full_url(href) if href else ""
        item = f"- [{name}]({full})" if full else f"- {name}"
        sec = _KMAP_TAG_TITLES.get(tag)
        if sec:
            section_items[sec].append(item)
        else:
            # untagged attachment already linked from the (rewritten)
            # description -> skip, else collect under Anhänge
            fname = (att.get("file") or "").strip()
            if (href and href in desc_html) or (
                fname and (
                    f"inline:{fname}" in desc_html
                    or f'"{fname}"' in desc_html
                    or f"'{fname}'" in desc_html
                )
            ):
                continue
            generic_items.append(item)

    for sec, items in section_items.items():
        if items:
            parts.append(f"\n**{sec}**\n\n" + "\n".join(items))
    if generic_items:
        parts.append("\n**Anhänge**\n\n" + "\n".join(generic_items))

    final_md = "\n\n".join(p for p in parts if p)
    return final_md if final_md.strip() else None


def _extract(html: str, main_only: bool) -> str:
    p = _TextExtract(main_only=main_only)
    p.feed(html)
    return "\n\n".join(p.chunks)


# the polish patterns are compiled from functions/text.py's strings,
# which its Spark-side regexp_replace uses too, and oracles.py imports
# these compiled forms — one definition for all three engines
_MATH_EXPR_RE = re.compile(_text._MATH_EXPR_RE)
_FORMULA_RE = re.compile(_text._FORMULA_RE)
# every _MATH_EXPR_RE alternative needs '(' or an operator, _FORMULA_RE
# needs '=' — one cheap scan gates BOTH subs (they were two full
# backtracking passes over every ~100 KB document at payload_scale=64)
_POLISH_TRIGGER_RE = re.compile(r"[=+\-*/(]")


def _polish(text: str) -> str:
    """C4 + C5 (converter.py:76-84, 87-114)."""
    if _POLISH_TRIGGER_RE.search(text):
        text = _MATH_EXPR_RE.sub(r"`\1`", text)
        text = _FORMULA_RE.sub(r"**\1**", text)
    if "|" not in text:  # the table enhancer is an identity without
        return text      # a pipe line — skip its full split/rejoin copy
    return enhance_table_structure_py(text)


_ERROR_TEMPLATE = (
    "# Content Conversion Failed\n\nThe fetched content could not be "
    "converted to Markdown.\n\nError: {err}"
)
_OCTET_TEMPLATE = (
    "# Binary Content\n\nContent-Type: application/octet-stream "
    "({n} bytes) — not converted."
)


class _Breaker:
    """C8 circuit breaker: >=5 unexpected failures within one partition
    disables the heavy converter tier for the rest of the partition
    (reference is process-global over a 60s window, converter.py:32-36)."""

    def __init__(self, limit: int = 5):
        self.failures = 0
        self.limit = limit

    @property
    def open(self) -> bool:
        return self.failures >= self.limit

    def record(self) -> None:
        self.failures += 1


def convert_bytes(
    pid: int, ctype: str, payload: bytes, breaker: _Breaker, max_bytes: int,
    extractor=None, media_policy: str = "skip",
    forced_converter: str | None = None,
    trafilatura_clean: bool | None = None,
) -> tuple[str, str, bool]:
    """Returns (markdown, converter_used, truncated). Never raises (C9).
    `extractor` (default `_extract`) is injectable so tests can poison
    the heavy tier and observe the breaker trip. `media_policy` governs
    the in-chain audio/video branch (C6, reference converter.py:155-158,
    253-282). `forced_converter` pins the HTML tier to 'main'/'full'/
    'strip' (the reference's per-request html_converter override,
    schemas.py:44-53, dispatch converter.py:208-246); None/'auto' keeps
    the 3-tier fallback chain. `trafilatura_clean` mirrors the
    reference's per-request trafilatura_clean_markdown (schemas.py:
    55-63, converter.py:210-227): True/None = cleaned main-content
    extraction, False = the raw html2txt path — the trafilatura tier
    then emits the FULL-DOM text while still reporting itself as the
    converter that ran."""
    extract = extractor or _extract
    truncated = len(payload) > max_bytes
    if truncated:
        payload = payload[:max_bytes]  # P10
    base_ctype = ctype.split(";")[0].strip().lower()
    try:
        if base_ctype == "application/pdf" and not payload.startswith(b"%PDF"):
            base_ctype = "text/html"  # P8
        if base_ctype == "application/octet-stream":
            return _OCTET_TEMPLATE.format(n=len(payload)), "bypass", truncated  # P9
        if base_ctype.startswith("audio/") or base_ctype.startswith("video/"):
            # C6 in-chain: audio/video renders per the request's media
            # policy (round-3 verdict fix — previously a standalone
            # operator the engine never ran)
            from volltextextraktion_selenium_md_spark.functions.mime import (
                media_policy_markdown_py,
            )

            md = media_policy_markdown_py(base_ctype, media_policy, len(payload))
            return md, "media", truncated
        if base_ctype.startswith("image/"):
            arr = codec.decode(payload)
            cap = codec.synth_caption(pid)
            md = f"![{cap}]({pid})\n\n{arr.shape[1]}x{arr.shape[0]} {base_ctype}"
            return md, "image", truncated
        if base_ctype == "application/pdf":
            text = payload[9:].decode("utf-8", "replace")
            return _polish("# PDF Document\n\n" + text), "pdf", truncated
        if base_ctype.startswith("application/rss"):
            return (
                "\n".join(
                    f"- {t}" for t in _rss_titles(payload.decode("utf-8", "replace"))
                ),
                "rss",
                truncated,
            )

        html = _preclean(payload.decode("utf-8", "replace"))
        kmap = _kmap_markdown(html)
        if kmap is not None:
            # universal gate (converter.py:199-204): a rich embedded
            # payload wins outright; a tiny fragment (<800 chars) forces
            # the full-DOM tier — overriding even a per-request
            # html_converter, exactly as the reference overwrites
            # eff_html_conv with 'markitdown'
            if len(kmap) >= 800:
                return _polish(kmap), "kmap", truncated
            return _polish(_extract(html, main_only=False)), "full", truncated
        if forced_converter and forced_converter != "auto":
            # per-request converter override: the forced tier runs with
            # NO fallback — a failure is a conversion failure (C9 outer
            # containment), exactly the reference's forced dispatch
            if forced_converter == "strip":
                stripped = strip_tags(html)
                return _polish(" ".join(stripped.split())), "strip", truncated
            return (
                _polish(extract(
                    html,
                    main_only=(forced_converter == "main")
                    and trafilatura_clean is not False,
                )),
                forced_converter,
                truncated,
            )
        # three-tier fallback chain (C1): content-only -> full text ->
        # raw strip; each tier isolated (converter.py:208-246)
        if not breaker.open:
            try:
                # trafilatura_clean=False: the trafilatura tier runs
                # html2txt (raw full-DOM text) instead of the cleaned
                # main-content extraction (converter.py:212-227)
                main = extract(html, main_only=trafilatura_clean is not False)
                if len(main) >= 80:
                    return _polish(main), "main", truncated
            except Exception:
                breaker.record()
        try:
            full = extract(html, main_only=False)
            if full:
                return _polish(full), "full", truncated
        except Exception:
            breaker.record()
        stripped = strip_tags(html)
        return _polish(" ".join(stripped.split())), "strip", truncated
    except Exception as exc:  # C9: containment — never fail the row
        return _ERROR_TEMPLATE.format(err=type(exc).__name__), "error", truncated


# ---------------------------------------------------------------------------
# the Spark stage
# ---------------------------------------------------------------------------

CONVERT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("page_id", T.LongType(), False),
    T.StructField("markdown", T.StringType(), False),
    T.StructField("markdown_length", T.IntegerType(), False),
    T.StructField("converter_used", T.StringType(), False),
    T.StructField("truncated", T.BooleanType(), False),
    # per-request llm_anonymize / llm_postprocess flags ride through
    # conversion so the downstream LLM stage can honor them row-wise
    # (reference schemas.py:194-211, main.py:437-457); read from the
    # request-column contract like every other request setting
    T.StructField("llm_anonymize", T.BooleanType(), True),
    T.StructField("llm_postprocess", T.BooleanType(), True),
    # per-request llm_clean_prompt override (reference schemas.py:
    # 206-226): rides through so llm_postprocess_stage's llm_prompt
    # column steers the prompt row-wise; NULL = default
    T.StructField("llm_prompt", T.StringType(), True),
    T.StructField("image_id", T.StringType(), True),
    T.StructField("image_bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("phash", T.LongType(), True),
])

# the fetched-row columns the minting convert reads: identity, content
# type and the page features mint_payload embeds
FEATURE_COLS = [
    "url", "page_id", "content_type", "text_len", "has_main",
    "spa_mark", "js_required", "consent", "bot_wall", "rss_link",
]

# the request settings the stage reads per row (schemas.REQUEST_COLS)
_REQUEST_INPUTS = [
    "media_policy", "html_converter", "llm_anonymize", "llm_postprocess",
    "llm_prompt", "max_bytes", "trafilatura_clean",
]


def convert_stage(
    fetched: DataFrame,
    cfg: CrawlConfig | None = None,
    emit_markdown: bool = True,
    extractor=None,
    payload_col: str | None = None,
) -> DataFrame:
    """mapInPandas convert pass over fetched rows (outcome='fetched').

    emit_markdown=False keeps the conversion work (the markdown is fully
    computed — its length is emitted) but skips shipping the body
    through Arrow; benchmark sink-lean mode.

    payload_col: LIVE mode — convert the REAL fetched bytes in that
    column instead of minting from graph feature bits. page_id is NULL
    in live mode, so a stable 63-bit md5 surrogate of the url stands in
    (captions/ids stay deterministic). Live image rows decode the REAL
    fetched bytes into the payload-table columns (bytes verbatim,
    w/h/fmt/phash from the decoded pixels, deterministic caption
    stand-in — see ``codec.payload_row_from_bytes``); rows whose bytes
    don't decode (corrupt / max_bytes-truncated) emit no table row.

    The stage reads the request-column contract (schemas.REQUEST_COLS):
    an absent request column is backfilled with its
    REQUEST_COL_DEFAULTS value at entry, so it means exactly that
    default. Per row (reference schemas.py:44-53): ``media_policy``
    (NULL = ``cfg.media_policy``) governs the audio/video branch,
    ``html_converter`` forces the HTML tier ('main'/'full'/'strip';
    NULL/'auto' keeps the chain), ``max_bytes`` caps THAT row's payload
    before conversion (reference schemas.py:156-170; NULL =
    ``cfg.max_bytes``), ``trafilatura_clean`` = False skips the
    cleaning pass (NULL keeps it), and ``llm_anonymize`` /
    ``llm_postprocess`` / ``llm_prompt`` ride through to the output for
    the LLM stage."""
    cfg = cfg or CrawlConfig()
    max_bytes = cfg.max_bytes
    default_policy = cfg.media_policy
    fetched = with_request_cols(fetched)

    scale = cfg.payload_scale

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        breaker = _Breaker()
        for pdf in batches:
            out = {k: [] for k in CONVERT_SCHEMA.fieldNames()}
            for row in pdf.to_dict("records"):
                if payload_col is not None:
                    raw = row[payload_col]
                    payload = bytes(raw) if raw is not None else b""
                    pid = row["page_id"]
                    if pid is None or pd.isna(pid):  # NULL page_id -> NaN via Arrow
                        pid = int.from_bytes(
                            hashlib.md5(row["url"].encode()).digest()[:8], "big"
                        ) >> 1
                    minted = False
                else:
                    pid = int(row["page_id"])
                    payload = mint_payload(row, scale)
                    minted = True
                ctype = row["content_type"]
                policy = row["media_policy"] or default_policy
                mb = row["max_bytes"]
                mb = max_bytes if mb is None or pd.isna(mb) else int(mb)
                clean = row["trafilatura_clean"]
                clean = None if clean is None or pd.isna(clean) else bool(clean)
                md, conv, trunc = convert_bytes(
                    int(pid), ctype, payload, breaker, mb, extractor,
                    media_policy=policy,
                    forced_converter=row["html_converter"],
                    trafilatura_clean=clean,
                )
                out["url"].append(row["url"])
                out["page_id"].append(int(pid))
                out["markdown"].append(md if emit_markdown else "")
                out["markdown_length"].append(len(md))
                out["converter_used"].append(conv)
                out["truncated"].append(trunc)
                for k in ("llm_anonymize", "llm_postprocess"):
                    out[k].append(None if row[k] is None else bool(row[k]))
                out["llm_prompt"].append(row["llm_prompt"])
                p = None
                if ctype.startswith("image/"):
                    # minted rows synthesize the image+caption pair
                    # keyed by page_id; LIVE rows decode the REAL
                    # fetched bytes (w/h/fmt/phash from the pixels,
                    # bytes stored verbatim) — undecodable live bytes
                    # emit no row (payload_row_from_bytes docstring)
                    p = (
                        codec.make_payload_row(int(pid))
                        if minted
                        else codec.payload_row_from_bytes(int(pid), payload)
                    )
                if p is not None:
                    out["image_id"].append(p["image_id"])
                    out["image_bytes"].append(p["bytes"])
                    out["w"].append(p["w"])
                    out["h"].append(p["h"])
                    out["fmt"].append(p["fmt"])
                    out["caption"].append(p["caption"])
                    out["phash"].append(p["phash"])
                else:
                    for k in ("image_id", "image_bytes", "w", "h", "fmt", "caption", "phash"):
                        out[k].append(None)
            res = pd.DataFrame(out)
            # mixed None+int columns coerce to float64 and corrupt
            # 64-bit values — force nullable integer dtypes
            for k, dt in (("w", "Int32"), ("h", "Int32"), ("phash", "Int64"),
                          ("llm_anonymize", "boolean"),
                          ("llm_postprocess", "boolean")):
                res[k] = pd.array(out[k], dtype=dt)
            yield res

    cols = FEATURE_COLS if payload_col is None else (
        ["url", "page_id", "content_type", payload_col]
    )
    return fetched.select(*cols, *_REQUEST_INPUTS).mapInPandas(
        run, schema=CONVERT_SCHEMA
    )
