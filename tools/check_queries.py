"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at one scale factor
(default sf0.01), compare row-count + column names +
order-insensitive values.

Usage: python tools/check_queries.py [--sf {0.001,0.01,0.1}] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from effocr_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(norm_cell(vals[i]) for i in order))
    return sorted(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", choices=("0.001", "0.01", "0.1"), default="0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or None
    sf_dir = os.path.join(os.path.dirname(SF_DIR), f"sf{args.sf}")
    spark = get_spark("check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in qs.items():
        if names and name not in names:
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error {e!r}"[:300])
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {e!r}"[:300])
            failures.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rows {len(srows)} vs {len(drows)}")
            failures.append(name)
            continue
        a, b = canon([tuple(r) for r in srows], scols), canon(drows, dcols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, e.g. {diff}")
            failures.append(name)
            continue
        print(f"ok    {name}: {len(srows)} rows match")
    print()
    print(f"{checked - len(failures)}/{checked} ok at sf{args.sf}")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all checks passed")
    spark.stop()


if __name__ == "__main__":
    main()
