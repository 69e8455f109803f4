"""Local stand-in for the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count + column names + order-insensitive value multiset
(`result_diff`, which tests/test_oracle_corpus.py shares).

Usage: python scripts/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from itext2kg_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per test-data table under `sf_dir`."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def result_diff(scols, srows, dcols, drows) -> list[str]:
    """How a Spark result differs from its DuckDB oracle: row count, column
    names (case-insensitive) and the order-insensitive value multiset.
    Empty when they agree."""
    scols = [c.lower() for c in scols]
    dcols = [c.lower() for c in dcols]
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rows: spark={len(srows)} duck={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols: spark={scols} duck={dcols}")
    sm, dm = df_multiset(scols, srows), df_multiset(dcols, drows)
    if sm != dm:
        sset, dset = set(sm), set(dm)
        problems.append(
            f"vals: spark-only {[x for x in sm if x not in dset][:3]}"
            f" duck-only {[x for x in dm if x not in sset][:3]}"
        )
    return problems


def normalize_cell(v):
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    return repr(v)


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(normalize_cell(r[i]) for i in order) for r in rows
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    spark = get_spark(cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(srows)} rows, {spark_t:.1f}s")
            continue
        t0 = time.time()
        res = con.sql(oracles[name])
        drows = res.fetchall()
        duck_t = time.time() - t0
        problems = result_diff(sdf.columns, srows, res.columns, drows)
        status = "FAIL" if problems else "OK"
        print(
            f"{name:24s} {status} spark={len(srows)} duck={len(drows)} "
            f"({spark_t:.1f}s/{duck_t:.1f}s)"
        )
        for p in problems:
            print("  " + p)
        if problems:
            failures.append(name)
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
