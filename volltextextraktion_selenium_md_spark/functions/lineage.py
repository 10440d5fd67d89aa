"""Lineage segments: the crawl-order key's order-preserving integer codes.

A lineage is the recursive crawl-order address of a frontier row: the
seed's ``seed_idx`` as a 6-wide segment, then one 2-wide ``doc_pos``
segment per link hop, joined by ``'.'``. Crawl order is the string
order of ``(depth, lineage)``, so every segment must sort like the
integer it encodes and no segment may be a prefix of another.

A value that fits its width is zero-padded (``7 -> '07'``). A value
past the width is written ``'~'`` + its digit count as two digits + its
digits (``100 -> '~03100'``, ``10**9 -> '~101000000000'``): ``'~'`` sorts
after every digit, so it follows every in-width value, and among
overflowed values the digit count orders by magnitude before the digits
do. Plain zero-padding fails both ways: Spark's ``lpad`` truncates
(``100 -> '10'``, colliding with position 10) and Python's
``f"{n:02d}"`` sorts ``'100'`` before ``'11'``. In-width segments are
byte-identical to plain zero-padding, so existing stores stay valid.

The engine builds segments with ``segment_col``, the golden replay with
``segment``, and the DuckDB oracles with ``segment_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEED_WIDTH = 6
DOC_POS_WIDTH = 2
_OVERFLOW = "~"

# the deterministic crawl-order key within a round (SURVEY §2.3 F5):
# BFS depth first, then lineage — lexicographic == the reference's
# implied FIFO-seeds / document-order-links BFS. Every cut and dedup
# orders by it; the fetch log orders by ``["round", *CRAWL_ORDER]``.
CRAWL_ORDER = ["depth", "lineage"]


def segment(n: int, width: int) -> str:
    """The lineage segment of non-negative ``n`` at ``width``."""
    digits = str(n)
    if len(digits) <= width:
        return digits.rjust(width, "0")
    return f"{_OVERFLOW}{len(digits):02d}{digits}"


def segment_col(col: Column, width: int) -> Column:
    """``segment`` as a Spark Column expression (stays in codegen)."""
    digits = col.cast("string")
    return F.when(F.length(digits) <= width, F.lpad(digits, width, "0")).otherwise(
        F.concat(
            F.lit(_OVERFLOW),
            F.lpad(F.length(digits).cast("string"), 2, "0"),
            digits,
        )
    )


def segment_sql(expr: str, width: int) -> str:
    """``segment`` as SQL text in the dialect Spark SQL and DuckDB share."""
    digits = f"CAST({expr} AS STRING)"
    return (
        f"CASE WHEN length({digits}) <= {width} THEN lpad({digits}, {width}, '0') "
        f"ELSE '{_OVERFLOW}' || lpad(CAST(length({digits}) AS STRING), 2, '0') "
        f"|| {digits} END"
    )
