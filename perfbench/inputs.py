"""Seeded inputs and output checks for the benchmark.

Inputs (the KG workload's pages corpus comes from
`fixtures.build_bench_corpus`, seeded by the workload seed):
- `contract_tables`: a small TPC-H-like star schema plus `documents` and
  `embeddings`, shaped like the contract's test data, which the headline
  queries read.  It is generated from a fixed seed, so every run sees the
  same data; the workload seed only permutes the query order.

Checks (run outside every timed region):
- `table_digest`: order-independent digest of a parquet table, computed by
  DuckDB, so Spark never checks its own output.
- `rows_digest` / `oracle_digests`: canonical row-multiset digest of a query
  result, the same canonicalization as `scripts/verify_entry.py`, compared
  against each query's DuckDB oracle SQL.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed seed of the contract data set (the workload seed permutes the order).
CONTRACT_DATA_SEED = 20261016
CONTRACT_TABLES = ["lineitem", "orders", "customer", "part", "documents",
                   "embeddings"]

_WORDS = ("a the row column value batch query key big sort fast merge join "
          "window part hash agg group small customer vector filter table data "
          "scan slow spark stream line order").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_PART_ADJ = ["small", "red", "blue", "large", "green", "steel", "brass", "tiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "nut", "pin"]


def _days(rng: np.random.Generator, n: int, start: str, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def contract_tables(out_dir: Path) -> str:
    """Write the contract tables, about the size of sf0.001."""
    rng = np.random.default_rng(CONTRACT_DATA_SEED)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_line, n_ord, n_cust, n_part, n_supp = 6000, 1500, 300, 400, 20
    n_docs, n_emb = 1000, 500

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")

    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900, 105000, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2500)),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2400)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord)),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10 for i in range(n_part)]),
    })

    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.01:       # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:     # near duplicate: one appended token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return str(out_dir)


# --- checks --------------------------------------------------------------------

def table_digest(path: str) -> dict:
    """Row count plus an order-independent digest of a parquet table.

    Columns are taken in name order, so a hive-partitioned copy (partition
    column moved last) and a flat copy of the same rows agree.
    """
    import duckdb

    src = (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
           f"union_by_name = true)")
    con = duckdb.connect()
    try:
        cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}")
                      .fetchall())
        quoted = ", ".join(f'"{c}"' for c in cols)
        # sum of 64-bit row hashes (order-independent), folded modulo a
        # prime below 2^64
        n, h = con.execute(
            f"SELECT count(*), sum(hash({quoted})::HUGEINT) % 18446744073709551557 "
            f"FROM {src}").fetchone()
    finally:
        con.close()
    return {"rows": int(n), "digest": f"{cols}:{int(h or 0):x}"}


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    return str(v)


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    """sha256 of the sorted canonical rows, columns in lower-cased name order."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=names.__getitem__)
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(names)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def oracle_digests(tables_dir: str, sql: dict[str, str]) -> dict[str, dict]:
    """Run each query's DuckDB oracle SQL; name -> {rows, digest}."""
    import duckdb

    con = duckdb.connect()
    out = {}
    try:
        for t in CONTRACT_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{tables_dir}/{t}.parquet'")
        for name, text in sql.items():
            res = con.execute(text)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = {"rows": len(rows), "digest": rows_digest(cols, rows)}
    finally:
        con.close()
    return out
