"""Text/markdown operators.

Two groups:
1. Conversion polish from the reference (`preserve_mathematical_content`
   / `enhance_table_structure`, ``app/converter.py:45-114``) — the math
   char map is an identity (no-op by construction); only its two regex
   rewrites have effect, so they become two `regexp_replace` columns.
2. Training-data text analysis (language-ID, quality scoring, token
   counting, fingerprinting) — native Column expressions so a 100 TB
   documents table never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- reference conversion polish -------------------------------------------

# the call-argument charset is BOUNDED ({0,300}, was *): an unclosed
# '(' made every candidate scan to end-of-text — O(n^2) on adversarial
# markdown (measured 1.3 s at 60 KB of 'a(' repeats; minutes at ~1 MB
# inside the convert kernel). No real formula carries a 300+-char
# argument. plans/convert.py compiles these same strings for its
# Python pass (which the DuckDB oracle imports), so the three engines
# share one definition.
_MATH_EXPR_RE = r"\b([a-zA-Z]\([^)]{0,300}\)|[a-zA-Z][₀-₉⁰-⁹]*\s*[=+\-*/]\s*[^\s]+)"
_FORMULA_RE = r"([a-zA-Z][₀-₉⁰-⁹]*\s*=\s*[^\n]+)"


def strip_spans(s: str, opens_re, close_res: dict, kind_fn, repl: str = " ") -> str:
    """Linear twin of ``re.sub`` over a lazy span ALTERNATION
    (``open_a.*?close_a|open_b.*?close_b|...``): leftmost-first across
    kinds, each open's span runs to the first close OF ITS KIND at/after
    the open's end, matched spans are consumed, an open with no
    remaining same-kind close matches nothing (but other kinds still
    can). ``opens_re`` matches any kind's open; ``kind_fn(match)``
    returns the key into ``close_res`` (pre-compiled close patterns).
    The lazy-regex form re-scans from every close-less open to
    end-of-string — O(n^2) on broken HTML."""
    from bisect import bisect_left

    closes = {
        k: [(m.start(), m.end()) for m in rx.finditer(s)]
        for k, rx in close_res.items()
    }
    if not any(closes.values()):
        return s
    out = []
    prev = 0
    cursor = 0
    changed = False
    for m in opens_re.finditer(s):
        if m.start() < cursor:
            continue
        cl = closes[kind_fn(m)]
        i = bisect_left(cl, (m.end(), -1))
        if i == len(cl):
            continue
        out.append(s[prev:m.start()])
        out.append(repl)
        prev = cursor = cl[i][1]
        changed = True
    if not changed:
        return s
    out.append(s[prev:])
    return "".join(out)


def strip_tags(s: str, repl: str = " ") -> str:
    """Linear twin of ``re.sub(r"<[^>]+>", repl, s)``.

    The regex form re-scans ``[^>]+`` from every '<' to end-of-string
    when no '>' follows — O(n^2) on broken HTML (measured 0.85 s at
    60 KB of '<a ' repeats; minutes at ~1 MB). This scan reproduces the
    exact match set: '<' + at least one non-'>' char + the first '>'
    (so '<>' never matches), consumed left to right."""
    out = []
    prev = 0
    i = s.find("<")
    while i != -1:
        g = s.find(">", i + 1)
        if g == -1:
            break
        if g == i + 1:
            i = s.find("<", i + 1)
            continue
        out.append(s[prev:i])
        out.append(repl)
        prev = g + 1
        i = s.find("<", g + 1)
    if prev == 0:
        return s
    out.append(s[prev:])
    return "".join(out)


def preserve_math(text: Column) -> Column:
    """Backtick-wrap expressions, bold `lhs = rhs` formulas
    (``app/converter.py:76-84``; the ~70-entry symbol map at :48-70 maps
    every char to itself, so it is deliberately not materialized)."""
    out = F.regexp_replace(text, _MATH_EXPR_RE, r"`$1`")
    return F.regexp_replace(out, _FORMULA_RE, r"**$1**")


def enhance_table_structure_py(text: str) -> str:
    """Line-wise table separator injection (``app/converter.py:87-114``),
    used inside the convert `mapInPandas` stage (string ops on whole
    documents batch fine in Arrow; a higher-order-function rewrite would
    need posexplode + windows for no gain)."""
    lines = text.split("\n")
    enhanced: list[str] = []
    in_table = False
    for line in lines:
        if "|" in line and line.count("|") >= 2:
            if not in_table:
                in_table = True
                enhanced.append(line)
                cells = line.split("|")
                enhanced.append("|" + "|".join("---" for _ in range(len(cells) - 1)) + "|")
            else:
                enhanced.append(line)
        else:
            if in_table:
                in_table = False
                enhanced.append("")
            enhanced.append(line)
    return "\n".join(enhanced)


# --- training-pipeline text analysis ----------------------------------------

def token_count(text: Column) -> Column:
    """Whitespace tokenization; empty/blank string counts 0."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def distinct_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(F.split(t, r"\s+")))
    )


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))


def quality_score(text: Column) -> Column:
    """Structural quality in [0,1]: mixes length saturation, lexical
    diversity, and punctuation sanity. Deterministic double arithmetic,
    rounded to 4 dp so the DuckDB oracle hashes identically."""
    n = token_count(text).cast("double")
    d = distinct_token_count(text).cast("double")
    chars = F.length(text).cast("double")
    length_sat = F.least(chars / F.lit(500.0), F.lit(1.0))
    diversity = F.when(n > 0, d / n).otherwise(F.lit(0.0))
    punct_ratio = F.when(chars > 0, punct_count(text) / chars).otherwise(F.lit(0.0))
    punct_sanity = F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * length_sat + F.lit(0.4) * diversity + F.lit(0.2) * punct_sanity, 4
    )


# tiny per-language stopword marker lists for the n-gram/stopword
# heuristic language ID (SURVEY-mandated training op; markers chosen to
# be disjoint across languages)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "with", "for", "that"],
    "de": ["der", "die", "und", "nicht", "mit"],
    "fr": ["le", "la", "et", "les", "pour"],
    "es": ["el", "los", "que", "por", "una"],
}


def lang_score(text: Column, lang: str) -> Column:
    """Number of marker hits for `lang` as whole words."""
    t = F.lower(text)
    score = F.lit(0)
    for w in LANG_MARKERS[lang]:
        score = score + F.when(t.rlike(rf"\b{w}\b"), 1).otherwise(0)
    return score


def lang_id(text: Column) -> Column:
    """argmax over marker-hit scores; ties break in fixed language
    order (en, de, fr, es); zero hits -> 'unknown'."""
    scores = {lang: lang_score(text, lang) for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, "unknown")
    for lang in LANG_MARKERS:  # insertion order = tiebreak order
        expr = expr.when(scores[lang] == best, lang)
    return expr


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of lowercased whitespace-collapsed
    text — the exact-dedup key (md5 agrees between Spark and DuckDB)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))
