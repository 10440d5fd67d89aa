"""Factored mirror joins == R copies of the base crawl.

The scale benchmarks crawl R disjoint copies of the web. The engine
keeps pages/links BASE-sized and strips/re-mints the mirror id on the
probe side of each per-round join; every mirror must crawl exactly what
the golden replay crawls on the base graph."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from volltextextraktion_selenium_md_spark import graph
from volltextextraktion_selenium_md_spark.config import CrawlConfig
from volltextextraktion_selenium_md_spark.functions.lineage import (
    SEED_WIDTH,
    segment,
)
from volltextextraktion_selenium_md_spark.plans.frontier import CrawlEngine
from volltextextraktion_selenium_md_spark.replay import replay_crawl

LOG_KEY = ("ordinal", "round", "url", "depth", "lineage", "mode", "attempt",
           "outcome", "page_id", "status_code", "final_url", "content_type",
           "strategy", "route", "elapsed_ms")


def test_strip_extract_invert_insert(spark):
    """strip_mirror/extract_mirror are exact inverses of insert_mirror,
    including the raw-url noise classes (#frag, trailing /, UPPERCASE
    pre-path) after canonicalization lowercases the host."""
    base = [
        "https://host3.example.com/page/7",
        "https://alpha-2.example.com/page/0019?x=1",
        "https://h.example.com/",
    ]
    df = spark.createDataFrame([(u,) for u in base], "url string")
    for m in (0, 5, 63):
        out = (
            df.select(
                graph.insert_mirror(F.col("url"), F.lit(m)).alias("mu")
            )
            .select(
                "mu",
                graph.strip_mirror(F.col("mu")).alias("stripped"),
                graph.extract_mirror(F.col("mu")).alias("mir"),
            )
            .collect()
        )
        for row, orig in zip(out, base):
            assert f".m{m}.example.com" in row["mu"]
            assert row["stripped"] == orig
            assert row["mir"] == m
    # un-mirrored url: no token -> NULL mirror, strip is the identity
    plain = df.select(
        graph.extract_mirror(F.col("url")).alias("mir"),
        graph.strip_mirror(F.col("url")).alias("stripped"),
    ).collect()
    for row, orig in zip(plain, base):
        assert row["mir"] is None
        assert row["stripped"] == orig


def test_canonicalize_commutes_with_insert_mirror(spark):
    """The engine's factored link path substitutes
    canonicalize(insert_mirror(raw, m)) with
    insert_mirror(canonicalize(raw), m) — assert the two agree on EVERY
    raw link and seed url in the graph (all noise classes: #frag,
    trailing /, UPPERCASE scheme+host prefix), for boundary mirrors."""
    from volltextextraktion_selenium_md_spark.functions.urls import (
        canonicalize_url,
    )

    graph.register_graph_views(spark, SF_SMALL)
    raws = (
        graph.links(spark).select("raw_url")
        .unionByName(graph.seeds(spark).select("raw_url"))
    )
    for m in (0, 5, 63):
        mismatches = (
            raws.select(
                canonicalize_url(
                    graph.insert_mirror(F.col("raw_url"), F.lit(m))
                ).alias("a"),
                graph.insert_mirror(
                    canonicalize_url(F.col("raw_url")), F.lit(m)
                ).alias("b"),
            )
            .filter("a IS NULL OR b IS NULL OR a <> b")
            .count()
        )
        assert mismatches == 0, f"mirror {m}: {mismatches} mismatches"


_MIRROR = re.compile(r"\.m(\d+)\.example\.com")
MIRRORS = 3
REPLAY_KEY = ("round", "url", "depth", "lineage", "mode", "attempt",
              "outcome", "js_escalated")


def _unmirror(s: str) -> tuple[int, str]:
    """(mirror, text with the mirror token removed)."""
    found = _MIRROR.search(s)
    assert found is not None, f"no mirror token in {s!r}"
    return int(found.group(1)), _MIRROR.sub(".example.com", s)


def _segment_value(seg: str) -> int:
    """Inverse of ``lineage.segment`` (plain or overflow form)."""
    return int(seg[3:]) if seg.startswith("~") else int(seg)


def per_mirror_crawl(
    res, span: int, mirrors: int
) -> tuple[dict[int, list[dict]], dict[int, set]]:
    """A factored ``mirrors``-way crawl split into its mirrors, each in
    base-graph terms: (mirror -> its decisions in ordinal order, mirror
    -> its seen urls). The mirror token is stripped from url/host/
    final_url, and the lineage head and page_id are re-based (mirror m
    of seed s carries seed index s * mirrors + m and page_id base +
    m * span)."""
    rows = [
        r.asDict() for r in res.fetch_log.filter("outcome <> 'blocked'")
        .select(*LOG_KEY, "host", "js_escalated").orderBy("ordinal").collect()
    ]
    assert len(rows) > 0
    # sanity: the crawl really ran in mirrored URL space
    assert all(".m" in r["url"] for r in rows)
    per_m: dict[int, list[dict]] = {m: [] for m in range(mirrors)}
    for r in rows:
        m, url = _unmirror(r["url"])
        head, dot, rest = r["lineage"].partition(".")
        base_head = segment((_segment_value(head) - m) // mirrors, SEED_WIDTH)
        per_m[m].append({
            **r, "url": url, "host": _unmirror(r["host"])[1],
            "lineage": base_head + dot + rest,
            "final_url": r["final_url"] and _unmirror(r["final_url"])[1],
            "page_id": (None if r["page_id"] is None
                        else r["page_id"] - m * span),
        })
    seen_m: dict[int, set] = {m: set() for m in range(mirrors)}
    for r in res.seen.collect():
        m, url = _unmirror(r["url"])
        seen_m[m].add(url)
    return per_m, seen_m


def test_factored_mirror_crawl_equals_replay_per_mirror(spark):
    """Each mirror of a factored ``mirrors=3`` crawl, re-based to the
    base graph (``per_mirror_crawl``), is exactly the golden replay of
    the base graph: crawl order, seen set, and the page attributes the
    fetch join re-mints."""
    cfg = CrawlConfig(max_depth=3, max_rounds=5)
    eng = CrawlEngine(spark, SF_SMALL, cfg, mirrors=MIRRORS)
    per_m, seen_m = per_mirror_crawl(eng.run(), eng.span, MIRRORS)
    pages = {
        r["url"]: r for r in graph.pages(spark).select(
            "url", "host", "page_id", "status", "final_url", "content_type"
        ).collect()
    }
    rep = replay_crawl(SF_SMALL, cfg)
    want = [tuple(g[k] for k in REPLAY_KEY) for g in rep.crawl_order]
    for m, got in per_m.items():
        assert [tuple(r[k] for k in REPLAY_KEY) for r in got] == want, m
        for r in got:
            page = pages.get(r["url"])
            if r["page_id"] is None:
                assert page is None, r
                continue
            assert (r["host"], r["page_id"], r["status_code"],
                    r["final_url"], r["content_type"]) == (
                page["host"], page["page_id"], page["status"],
                page["final_url"], page["content_type"]), r
    assert seen_m == {m: rep.seen for m in range(MIRRORS)}
