"""The contract's correctness gate: a ``__spark_entry__`` query on Spark
against its ``oracle_sql()`` on DuckDB, compared as exact row multisets
(column-name-sorted, order-insensitive).

``scripts/verify_entry.py`` runs it over a whole data set from the command
line; ``tests/test_contract_oracle.py`` runs it per query inside Tier-1.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per data-set table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(spark, con: duckdb.DuckDBPyConnection, name: str, query,
          oracle: str | None, sf_dir: str) -> tuple[bool, str]:
    """Run one query on both engines: (passed, report).

    A query without an oracle (its values are engine-specific) is checked
    on its row count only: it passes if it returns rows.
    """
    sdf = query(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    if oracle is None:
        return bool(s_rows), f"{name:28s} rows={len(s_rows)} (no oracle — rows-only check)"
    try:
        res = con.execute(oracle)
    except duckdb.Error as e:
        return False, f"{name:28s} ORACLE SQL ERROR: {str(e)[:200]}"
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
        return False, (f"{name:28s} SCHEMA MISMATCH spark={sorted(s_cols)} "
                       f"duck={sorted(d_cols)}")
    ms = rows_to_multiset(s_cols, s_rows)
    md = rows_to_multiset(d_cols, d_rows)
    if ms == md:
        return True, f"{name:28s} OK rows={len(s_rows)}"
    lines = [f"{name:28s} VALUE MISMATCH rows spark={len(s_rows)} duck={len(d_rows)}"]
    lines += [f"   only-duck : {m}" for m in list((md - ms).items())[:3]]
    lines += [f"   only-spark: {m}" for m in list((ms - md).items())[:3]]
    return False, "\n".join(lines)
