"""Local replica of the driver's correctness gate: run every __spark_entry__
query on Spark AND its oracle SQL on DuckDB, compare row multisets
(column-name-sorted, order-insensitive, exact values).

Usage: python scripts/verify_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from collections import Counter
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from wikdict_gen_spark.session import get_spark

    spark = get_spark(app_name="verify_entry")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"{name:28s} rows={len(s_rows)} (no oracle — rows-only check)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"{name:28s} ORACLE SQL ERROR: {str(e)[:200]}")
            continue
        if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
            failures.append(name)
            print(f"{name:28s} SCHEMA MISMATCH spark={sorted(s_cols)} duck={sorted(d_cols)}")
            continue
        ms = rows_to_multiset(s_cols, s_rows)
        md = rows_to_multiset(d_cols, d_rows)
        if ms == md:
            print(f"{name:28s} OK rows={len(s_rows)}")
        else:
            failures.append(name)
            miss = list((md - ms).items())[:3]
            extra = list((ms - md).items())[:3]
            print(f"{name:28s} VALUE MISMATCH rows spark={len(s_rows)} duck={len(d_rows)}")
            for m in miss:
                print(f"   only-duck : {m}")
            for m in extra:
                print(f"   only-spark: {m}")
    print()
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
