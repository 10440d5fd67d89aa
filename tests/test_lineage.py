"""Lineage segments (functions/lineage.py): the engine's Spark Column,
the golden replay's scalar and the DuckDB oracles' SQL encode every
integer alike, the encoding sorts numerically and is prefix-free, and
in-width values keep the zero-padded bytes existing stores hold."""

from __future__ import annotations

import duckdb
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from volltextextraktion_selenium_md_spark.functions.lineage import (
    DOC_POS_WIDTH,
    SEED_WIDTH,
    segment,
    segment_col,
    segment_sql,
)
from volltextextraktion_selenium_md_spark.plans.fetch import links_from_payloads
from volltextextraktion_selenium_md_spark.plans.frontier import REQUEST_COLS

DOC_POS = st.integers(0, 10**4)
SEED_IDX = st.integers(0, 10**9)


def _spark_lineages(spark, pairs):
    df = spark.createDataFrame(pairs, "seed_idx long, doc_pos int")
    return [
        r["lineage"]
        for r in df.select(
            F.concat(
                segment_col(F.col("seed_idx"), SEED_WIDTH), F.lit("."),
                segment_col(F.col("doc_pos"), DOC_POS_WIDTH),
            ).alias("lineage")
        ).collect()
    ]


def _duckdb_lineages(pairs):
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (i INTEGER, seed_idx BIGINT, doc_pos INTEGER)")
        con.executemany(
            "INSERT INTO t VALUES (?, ?, ?)",
            [(i, s, d) for i, (s, d) in enumerate(pairs)],
        )
        return [
            r[0] for r in con.execute(
                f"SELECT {segment_sql('seed_idx', SEED_WIDTH)} || '.' || "
                f"{segment_sql('doc_pos', DOC_POS_WIDTH)} FROM t ORDER BY i"
            ).fetchall()
        ]
    finally:
        con.close()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(SEED_IDX, DOC_POS), min_size=1, max_size=40))
def test_spark_replay_and_oracle_agree_and_sort_numerically(spark, pairs):
    want = [
        f"{segment(s, SEED_WIDTH)}.{segment(d, DOC_POS_WIDTH)}" for s, d in pairs
    ]
    assert _spark_lineages(spark, pairs) == want
    assert _duckdb_lineages(pairs) == want
    # string order of the lineages == numeric order of the tuples, and
    # distinct tuples never collide
    by_string = sorted(zip(want, pairs))
    assert [p for _, p in by_string] == sorted(pairs)
    assert len(set(want)) == len(set(pairs))


@given(st.integers(0, 10**12), st.integers(0, 10**12), st.sampled_from([2, 6]))
def test_segments_sort_numerically_and_are_prefix_free(a, b, width):
    sa, sb = segment(a, width), segment(b, width)
    assert (sa < sb) == (a < b)
    if a != b:
        assert not sa.startswith(sb) and not sb.startswith(sa)
    # a parent's lineage sorts before its children, and a child before
    # the parent's next sibling
    assert sa < f"{sa}.{segment(0, DOC_POS_WIDTH)}"
    if a < b:
        assert f"{sa}.{segment(10**4, DOC_POS_WIDTH)}" < sb


def test_in_width_segments_are_zero_padded():
    assert segment(7, DOC_POS_WIDTH) == "07"
    assert segment(99, DOC_POS_WIDTH) == "99"
    assert segment(123, SEED_WIDTH) == "000123"
    assert segment(999_999, SEED_WIDTH) == "999999"
    assert segment(100, DOC_POS_WIDTH) == "~03100"
    assert segment(10**9, SEED_WIDTH) == "~101000000000"


def test_live_page_with_over_99_links_keeps_document_order(spark):
    """A live page's 100th+ anchors get distinct lineages that sort in
    document order (zero-padding truncated position 100 to '10')."""
    html = "".join(
        f'<a href="/p/{i}">link {i}</a>' for i in range(1, 121)
    ).encode()
    row = {
        "url": "https://example.com/", "final_url": None, "payload": html,
        "depth": 0, "lineage": segment(3, SEED_WIDTH), "priority": 0,
        **{c: None for c in REQUEST_COLS},
    }
    row["mode"] = "fast"
    ddl = (
        "url string, final_url string, payload binary, depth int, "
        "lineage string, priority int, mode string, js_strategy string, "
        "llm_anonymize boolean, timeout_ms int, retries int, "
        "llm_postprocess boolean, extract_links boolean, "
        "html_converter string, media_policy string, max_bytes int, "
        "trafilatura_clean boolean, proxy string, allow_insecure_ssl boolean, "
        "llm_prompt string"
    )
    cols = [c.split()[0] for c in ddl.split(", ")]
    parents = spark.createDataFrame([tuple(row[c] for c in cols)], ddl)
    kids = links_from_payloads(parents, 1).select("url", "lineage").collect()
    assert len(kids) == 120
    assert len({k["lineage"] for k in kids}) == 120
    in_order = [k["url"] for k in sorted(kids, key=lambda k: k["lineage"])]
    assert in_order == [f"https://example.com/p/{i}" for i in range(1, 121)]
