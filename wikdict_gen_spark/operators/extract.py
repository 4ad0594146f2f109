"""S1 pages scan + extract, S2 mention/structure detection.

read_pages: the pipeline's one input, the pages(url, warc_ts, html, text,
lang) table, read with its schema checked at the boundary (PAGES), so a
drifted corpus is a ValueError at the read, not a failure deep inside the
extract UDF.  The check reads only the footer schema the parquet read
already infers; it adds no job.

extract_text: pages -> (url, lang, text) with the byte-identical cleaning
contract, via one Arrow-batched pandas UDF over the binary html column.

parse_records: cleaned text -> raw fact tables.  Record detection is pure
JVM (split/explode/filter/element_at inside whole-stage codegen) — the
expensive fan-out of page bodies into facts never touches Python.

Scale shape: both steps are embarrassingly parallel map/flatMap over the
pages scan; no shuffle is introduced before the first groupBy in the
process stage.  Column pruning keeps the html column out of every
downstream scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikdict_gen_spark.functions.spark_udfs import extract_text_udf

# The pages schema (BASELINE.json input_hint): column -> Spark SQL type.
PAGES = {
    "url": "string",
    "warc_ts": "timestamp",
    "html": "binary",
    "text": "string",
    "lang": "string",
}


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read and validate a pages corpus (url, warc_ts, html, text, lang)."""
    df = spark.read.parquet(path)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = set(PAGES) - set(got)
    if missing:
        raise ValueError(f"pages corpus at {path} missing columns: {sorted(missing)}")
    for name, want in PAGES.items():
        if got[name] != want:
            raise ValueError(
                f"pages corpus column {name!r}: expected {want}, got {got[name]}"
            )
    return df.select(*PAGES)


def extract_text(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted(url, lang, text)."""
    return pages.select(
        "url", "lang", extract_text_udf(F.col("html")).alias("text")
    )


def records(extracted: DataFrame) -> DataFrame:
    """Explode page text into tab-separated record lines (tag, parts).

    The source url is dropped from the fan-out: no fact table consumes
    it, and the records relation is the widest multi-consumer
    intermediate in the pipeline (seven raw-table filters re-scan it), so
    a ~35-char provenance string per record line is pure shuffle/cache
    traffic at scale.  Page-level provenance lives in the extract stage
    (url -> byte-identical text contract) and snapshot-level lineage in
    the catalog's metrics rows.
    """
    lines = extracted.select(
        "lang",
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    ).where(F.col("line").startswith("#"))
    return lines.select(
        "lang",
        F.split(F.col("line"), "\t").alias("p"),
    ).withColumn("tag", F.col("p").getItem(0))


def _f(i: int):
    """1-based record field accessor (field 0 is the tag); '' -> NULL."""
    return F.nullif(F.element_at(F.col("p"), i + 1), F.lit(""))


def parse_records(extracted: DataFrame, recs: DataFrame | None = None) -> dict[str, DataFrame]:
    """Structure detection: record lines -> raw fact DataFrames.

    Returns dict with keys entry/pos/gender/pronun/form/translation/nym.
    Shapes mirror the reference's raw tables (FIXTURES.md §2).  Pass a
    pre-materialized `recs` (from records()) to avoid re-exploding the
    page bodies once per fact table.
    """
    if recs is None:
        recs = records(extracted)

    def tagged(tag: str) -> DataFrame:
        return recs.where(F.col("tag") == f"#{tag}")

    entry = tagged("entry").select(
        _f(1).alias("lexentry"), _f(2).alias("vocable"), _f(3).alias("written_rep"), "lang"
    )
    pos = tagged("pos").select(_f(1).alias("lexentry"), _f(2).alias("part_of_speech"), "lang")
    gender = tagged("gender").select(_f(1).alias("lexentry"), _f(2).alias("gender"), "lang")
    pronun = tagged("pronun").select(_f(1).alias("lexentry"), _f(2).alias("pronun"), "lang")
    form_feats = [
        "pos", "mood", "number", "person", "tense", "voice", "case",
        "inflection", "definiteness", "gender",
    ]
    form = tagged("form").select(
        _f(1).alias("lexentry"),
        _f(2).alias("other_written"),
        *[_f(3 + i).alias(c) for i, c in enumerate(form_feats)],
        "lang",
    )
    translation = tagged("trans").select(
        _f(1).alias("lexentry"),
        _f(2).alias("sense_num"),
        _f(3).alias("trans_kind"),
        F.col("lang").alias("from_lang"),
        _f(4).alias("to_lang"),
        _f(5).alias("sense"),
        _f(6).alias("trans"),
    )
    nym = tagged("nym").select(
        _f(1).alias("f"), _f(2).alias("nym"), _f(3).alias("t_rep"), "lang"
    )
    return {
        "entry": entry,
        "pos": pos,
        "gender": gender,
        "pronun": pronun,
        "form": form,
        "translation": translation,
        "nym": nym,
    }
