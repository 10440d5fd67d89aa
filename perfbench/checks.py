"""Per-op oracle checks against the repo's own independent oracles.

- crawls: ``replay.replay_crawl`` (single-threaded golden BFS over the
  same parquet through DuckDB). A mirrored crawl is R disjoint copies of
  the base web, so each mirror's mirror-stripped projection must equal
  the replay of the base graph.
- service requests: the replay's service-mode twin
  (``replay_crawl(seeds=..., initial_seen=..., start_round=...)``),
  compared request by request with what ``request_results`` returns.
- search queries: the DuckDB SQL of ``oracles.build_oracles()`` over the
  same inputs, compared by row count, column names and a value hash;
  image near-dup pairs: a brute-force Hamming scan over the pixels the
  image corpus decodes to.

Golden results are computed once per seed, before any timed op.
"""

from __future__ import annotations

import hashlib
import os
import re
from urllib.parse import urlsplit

_MIRROR = re.compile(r"\.m(\d+)\.example\.com")
LOG_KEY = ("round", "url", "depth", "lineage", "mode", "attempt", "outcome",
           "js_escalated")


def unmirror(url: str, lineage: str, mirrors: int) -> tuple[int, str, str]:
    """(mirror, base url, base lineage) of a mirrored crawl row. Mirror m
    of seed s carries seed index s * mirrors + m in its lineage head; an
    unmirrored crawl's rows are mirror 0 as they are."""
    found = _MIRROR.search(url)
    if found is None:
        return 0, url, lineage
    m = int(found.group(1))
    head, _, rest = lineage.partition(".")
    base = f"{(int(head) - m) // mirrors:06d}" + ("." + rest if rest else "")
    return m, _MIRROR.sub(".example.com", url), base


def check_mirrored_crawl(log_rows, seen_urls, gold, mirrors: int) -> list[str]:
    """Compare a mirrored crawl with the base-graph replay. ``log_rows``:
    dicts with LOG_KEY + ordinal for every non-blocked decision. Returns
    the list of mismatch descriptions (empty = ok)."""
    errors: list[str] = []
    ordinals = sorted(r["ordinal"] for r in log_rows)
    if ordinals != list(range(1, len(log_rows) + 1)):
        errors.append("ordinals are not 1..n")
    by_ord = sorted(log_rows, key=lambda r: r["ordinal"])
    keys = [(r["round"], r["depth"], r["lineage"]) for r in by_ord]
    if keys != sorted(keys):
        errors.append("ordinal order is not (round, depth, lineage)")
    want = sorted(tuple(g[k] for k in LOG_KEY) for g in gold.crawl_order)
    per_m: dict[int, list] = {m: [] for m in range(mirrors)}
    for r in log_rows:
        m, url, lin = unmirror(r["url"], r["lineage"], mirrors)
        per_m.setdefault(m, []).append(
            tuple({**r, "url": url, "lineage": lin}[k] for k in LOG_KEY)
        )
    seen_m: dict[int, set] = {m: set() for m in range(mirrors)}
    for u in seen_urls:
        m, base, _ = unmirror(u, "0", mirrors)
        seen_m.setdefault(m, set()).add(base)
    for m in sorted(per_m):
        if sorted(per_m[m]) != want:
            errors.append(f"mirror {m}: crawl order differs from replay "
                          f"({len(per_m[m])} vs {len(want)} decisions)")
        if seen_m.get(m, set()) != gold.seen:
            errors.append(f"mirror {m}: seen set differs from replay")
    return errors


def robots_blocked(url: str, robots: dict) -> bool:
    """Whether the replay's robots rules (host -> disallow_prefix) block
    ``url``, as ``replay_crawl`` decides it."""
    parts = urlsplit(url)
    prefix = (robots.get(parts.hostname) or {}).get("disallow_prefix")
    return bool(prefix) and parts.path.startswith(prefix)


def subtree(rows, idx: int) -> list:
    """The gold rows of request ``idx``'s crawl subtree, as
    (url, lineage, outcome) in crawl order."""
    prefix = f"{idx:06d}"
    return [(g["url"], g["lineage"], g["outcome"]) for g in rows
            if g["lineage"] == prefix or g["lineage"].startswith(prefix + ".")]


def value_hash(rows, cols: list[str]) -> str:
    """Order-free hash of a result: columns taken by name, rows sorted,
    floats to 6 significant digits (both engines round the last bits
    differently)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, bool):
                vals.append(str(v).lower())
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif v is None:
                vals.append("")
            else:
                vals.append(str(v))
        norm.append("\x1f".join(vals))
    norm.sort()
    return hashlib.sha256("\x1e".join(norm).encode()).hexdigest()


def fingerprint(rows, cols: list[str]) -> tuple[int, list[str], str]:
    return len(rows), sorted(cols), value_hash(rows, cols)


def duckdb_answers(input_dir: str, names) -> dict[str, tuple]:
    """``fingerprint`` of each named query's DuckDB oracle over the
    tables in ``input_dir``."""
    import duckdb

    from volltextextraktion_selenium_md_spark.graph import BASE_TABLES
    from volltextextraktion_selenium_md_spark.oracles import build_oracles

    sqls = build_oracles()
    con = duckdb.connect()
    try:
        for t in BASE_TABLES:
            path = os.path.join(input_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            cur = con.execute(sqls[name])
            cols = [c[0] for c in cur.description]
            out[name] = fingerprint(cur.fetchall(), cols)
        return out
    finally:
        con.close()


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def phash_pairs(doc_ids, max_hamming: int, variants_every: int) -> set:
    """Every (image_a, image_b, hamming) pair within ``max_hamming`` of
    the image corpus keyed by ``doc_ids`` (one image per doc, alternating
    png/jpeg, plus a one-pixel variant of every ``variants_every``-th),
    by scanning all pairs of the decoded pixels' average hashes."""
    from volltextextraktion_selenium_md_spark import codec

    hashes = {}
    for k in doc_ids:
        stored = codec.decode(codec.encode(codec.synth_image(k),
                                           "png" if k % 2 == 0 else "jpeg"))
        hashes[f"img-{k}"] = codec.average_hash(stored)
        if k % variants_every == 0:
            v = stored.copy()
            v[0, 0, 0] ^= 1
            hashes[f"img-{k}-v"] = codec.average_hash(v)
    ids = sorted(hashes)
    return {(a, b, d) for i, a in enumerate(ids) for b in ids[i + 1:]
            if (d := hamming64(hashes[a], hashes[b])) <= max_hamming}
