"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given SF, compare
row count + sorted-column value hash. Usage:

    python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

# repo root = parent of scripts/, so a second checkout checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from volltextextraktion_selenium_md_spark.graph import BASE_TABLES
from volltextextraktion_selenium_md_spark.session import get_spark


def value_hash(rows: list[tuple], cols: list[str]) -> str:
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
    return hashlib.sha256("\x1e".join(norm).encode()).hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark()
    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = sqls.get(name)
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append(name)
            print(f"{name:24s} SPARK-ERROR {type(exc).__name__}: {str(exc)[:160]}")
            continue
        if sql is None:
            print(f"{name:24s} rows-only   n={len(s_rows)}")
            continue
        try:
            cur = con.execute(sql)
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as exc:
            failures.append(name)
            print(f"{name:24s} DUCK-ERROR  {type(exc).__name__}: {str(exc)[:160]}")
            continue
        sh = value_hash(s_rows, s_cols)
        dh = value_hash(d_rows, d_cols)
        ok = (
            len(s_rows) == len(d_rows)
            and sorted(s_cols) == sorted(d_cols)
            and sh == dh
        )
        status = "OK " if ok else "FAIL"
        if not ok:
            failures.append(name)
        print(
            f"{name:24s} {status} n_spark={len(s_rows)} n_duck={len(d_rows)} "
            f"hash={'=' if sh == dh else sh + '<>' + dh} "
            f"cols={'=' if sorted(s_cols) == sorted(d_cols) else str(s_cols) + '<>' + str(d_cols)}"
        )
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
