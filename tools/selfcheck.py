"""Mimics the driver's correctness gate: run every __spark_entry__
queries() entry at sf0.01 alongside its oracle_sql() in DuckDB and
compare row count, schema (column names), and order-insensitive values.

Usage: python tools/selfcheck.py [--sf /root/testdata/sf0.01] [--only q1,q2]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return f"{x:.9g}"
    if hasattr(x, "isoformat"):
        return x.isoformat()
    if isinstance(x, bool):
        return str(x)
    if isinstance(x, (bytes, bytearray)):
        return x.hex()
    try:
        import decimal

        if isinstance(x, decimal.Decimal):
            return f"{float(x):.9g}"
    except Exception:
        pass
    return str(x)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from detectingscc_spark.session import get_spark

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = {x for x in args.only.split(",") if x}
    # a misspelt name would filter every query out and pass vacuously
    unknown = sorted(only - qs.keys())
    if unknown:
        print("UNKNOWN queries:", unknown)
        sys.exit(2)

    spark = get_spark(app_name="selfcheck", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, args.sf)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:300]}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(rows)} rows in {t1 - t0:.1f}s")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {str(ex)[:300]}")
            failures.append(name)
            continue
        t2 = time.time()
        if sorted(cols) != sorted(ocols):
            print(f"FAIL {name}: schema {sorted(cols)} vs {sorted(ocols)}")
            failures.append(name)
            continue
        if len(rows) != len(orows):
            print(f"FAIL {name}: rowcount {len(rows)} vs {len(orows)}")
            failures.append(name)
            continue
        a = canon(rows, cols)
        b = canon(orows, ocols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            failures.append(name)
            continue
        print(f"OK {name}: {len(rows)} rows (spark {t1 - t0:.1f}s, duck {t2 - t1:.1f}s)")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
