"""Local replica of the driver's correctness gate: run every __spark_entry__
query on Spark AND its oracle SQL on DuckDB, compare row multisets
(column-name-sorted, order-insensitive, exact values; see
wikdict_gen_spark/oracle_gate.py).

Usage: python scripts/verify_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from wikdict_gen_spark.oracle_gate import check, duckdb_views
    from wikdict_gen_spark.session import get_spark

    spark = get_spark(app_name="verify_entry")
    con = duckdb_views(sf_dir)
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        ok, report = check(spark, con, name, fn, oracles.get(name), sf_dir)
        print(report)
        if not ok:
            failures.append(name)
    print()
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
