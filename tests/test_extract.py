"""Extraction-stage tests: pages schema check, byte-identical text and
structure detection parity."""

import pytest
from pyspark.sql import functions as F

from wikdict_gen_spark.operators.extract import extract_text, parse_records, read_pages


def test_read_pages_validates(spark, fixture_dir):
    df = read_pages(spark, f"{fixture_dir}/pages.parquet")
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_read_pages_rejects_bad_schema(spark, fixture_dir, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "bad"))
    with pytest.raises(ValueError, match="missing columns"):
        read_pages(spark, str(tmp_path / "bad"))
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    pages.withColumn("html", F.col("text")).write.parquet(str(tmp_path / "str_html"))
    with pytest.raises(ValueError, match="'html': expected binary, got string"):
        read_pages(spark, str(tmp_path / "str_html"))


def test_extract_byte_identity(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    expected = spark.read.parquet(f"{fixture_dir}/expected_text.parquet")
    got = extract_text(pages)
    diff = (
        got.alias("g")
        .join(expected.alias("e"), "url", "full")
        .where(~F.col("g.text").eqNullSafe(F.col("e.text")))
    )
    assert diff.count() == 0
    assert got.count() == expected.count()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_parse_records_matches_plan(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    raw = parse_records(extract_text(pages))

    plan_entry = spark.read.parquet(f"{fixture_dir}/plan_entry.parquet")
    assert _sorted_rows(raw["entry"].select("lexentry", "vocable", "written_rep", "lang")) == _sorted_rows(
        plan_entry.select("lexentry", "vocable", "written_rep", "lang")
    )

    plan_nym = spark.read.parquet(f"{fixture_dir}/plan_nym.parquet")
    assert _sorted_rows(raw["nym"]) == _sorted_rows(plan_nym.select("f", "nym", "t_rep", "lang"))

    # translation rows: raw (markup-noised) fields must clean back to the plan
    n_raw = raw["translation"].count()
    n_plan = spark.read.parquet(f"{fixture_dir}/plan_translation.parquet").count()
    assert n_raw == n_plan

    plan_form = spark.read.parquet(f"{fixture_dir}/plan_form.parquet")
    cols = ["lexentry", "other_written", "pos", "mood", "number", "person",
            "tense", "voice", "case", "inflection", "definiteness", "gender", "lang"]
    assert _sorted_rows(raw["form"].select(*cols)) == _sorted_rows(plan_form.select(*cols))
