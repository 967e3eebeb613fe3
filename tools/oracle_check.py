"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given sf, compare row count +
column names + order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """pandas -> sorted list of stringified rows (order-insensitive)."""
    import math

    cols = sorted(df.columns)
    rows = []
    for t in df[cols].itertuples(index=False):
        vals = []
        for v in t:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.9g}")
            elif isinstance(v, bool):
                vals.append(str(v).lower())
            else:
                vals.append(str(v))
        rows.append("\x01".join(vals))
    return sorted(rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from cartography_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    import time

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {str(ex)[:300]}")
            continue
        g_cols, e_cols = sorted(map(str.lower, got.columns)), sorted(map(str.lower, exp.columns))
        if g_cols != e_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns {g_cols} vs {e_cols}")
            continue
        if len(got) != len(exp):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(got)} vs {len(exp)}")
            continue
        gn, en = normalize(got), normalize(exp.rename(columns=str.lower).rename(columns=dict(zip(map(str.lower, exp.columns), map(str.lower, exp.columns)))))
        if gn != en:
            failures.append(name)
            bad = [(a, b) for a, b in zip(gn, en) if a != b][:3]
            print(f"FAIL  {name}: value mismatch; first diffs: {bad}")
            continue
        print(f"OK    {name}: {len(got)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
