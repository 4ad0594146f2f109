"""The 70-query operator contract inside Tier-1: each
``__spark_entry__.queries()`` entry on Spark against its DuckDB oracle on
the smallest contract data set (TESTDATA.md), one case per query."""

from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from wikdict_gen_spark.oracle_gate import check, duckdb_views

SF_DIR = Path("/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not SF_DIR.is_dir(),
                                reason=f"contract data set {SF_DIR} is absent")

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb_views(str(SF_DIR))
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, con, name):
    ok, report = check(spark, con, name, QUERIES[name], ORACLES.get(name),
                       str(SF_DIR))
    assert ok, report
