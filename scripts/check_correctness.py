"""Pre-flight driver-style correctness check: run every queries() entry
via Spark AND its oracle_sql() via DuckDB on the same sf dir; compare
row count, column names, and order-insensitive value multisets.

Usage: python scripts/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from parquetjs_spark.sources.tables import TABLES, get_spark


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon_cell(r[i]) for i in order))
    return sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("preflight", cores=8, shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            n_rowsonly += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(ocols)}")
            n_fail += 1
            continue
        a = canon_rows(scols, [tuple(r) for r in srows])
        b = canon_rows(ocols, orows)
        if len(a) != len(b):
            print(f"FAIL  {name}: rowcount {len(a)} != {len(b)}")
            n_fail += 1
        elif a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(a)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
