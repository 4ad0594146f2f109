"""Export jobs reading the materialized graph (reference anki_csv
semantics); the TEI/XML and sitemap sinks are in tei.py."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# A14 reference constants (tei.py:208-238)
_GOOD_SCORE = 100.0
_BASE_COUNT = 1000
_EXPECTED_GOOD = 45000
# rows per Anki deck (anki_csv.sh's LIMIT)
_ANKI_LIMIT = 100


def strip_control_chars(col):
    """X12: delete control characters except newline (export hygiene)."""
    return F.regexp_replace(col, r"[\x00-\x09\x0b-\x1f]", "")


def adaptive_min_score(simple_translation: DataFrame) -> DataFrame:
    """A14 adaptive export threshold (one row per lang pair).

    min_score = clamp(round((count(max_score >= _GOOD_SCORE) - _BASE_COUNT)
                            / _EXPECTED_GOOD * 100), 0, 100)
    — a large dictionary keeps the full score gate, a small one lowers it
    so the export isn't empty (reference /root/reference/src/tei.py:208-238,
    computed there per from-lang database; per lang pair here).
    """
    return simple_translation.groupBy("from_lang", "to_lang").agg(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(100),
                F.round(
                    (F.count(F.when(F.col("max_score") >= _GOOD_SCORE, 1)) - _BASE_COUNT)
                    / F.lit(float(_EXPECTED_GOOD)) * 100
                ).cast("int"),
            ),
        ).cast("double").alias("min_score")
    )


def top_simple_translations(simple_translation: DataFrame,
                            min_score: float | None = None,
                            k: int = 100) -> DataFrame:
    """Anki-style export: top-k vocables by score among good translations.

    min_score=None (the default) applies the adaptive per-lang-pair
    threshold — the reference's behavior for every TEI export; pass a
    number to pin a fixed gate.
    """
    if min_score is None:
        thresholds = F.broadcast(adaptive_min_score(simple_translation))
        gated = simple_translation.join(thresholds, ["from_lang", "to_lang"]).where(
            F.col("max_score") >= F.col("min_score")
        )
    else:
        gated = simple_translation.where(F.col("max_score") >= F.lit(float(min_score)))
    return (
        gated
        .orderBy(F.col("max_score").desc(), F.col("written_rep"))
        .limit(k)
        .select(
            strip_control_chars(F.col("written_rep")).alias("written_rep"),
            strip_control_chars(F.col("trans_list")).alias("trans_list"),
            "max_score",
        )
    )


def anki_export(simple_translation: DataFrame) -> DataFrame:
    """Anki deck export with the reference's exact semantics
    (/root/reference/src/anki_csv.sh:1): fixed `max_score >= 100` gate
    (never the adaptive one), top _ANKI_LIMIT by `rel_importance DESC`, and the
    ' | ' separators rewritten to ', ' in trans_list.  written_rep is the
    deterministic tiebreak sqlite leaves unspecified.
    """
    return (
        simple_translation.where(F.col("max_score") >= 100)
        .orderBy(F.col("rel_importance").desc(), F.col("written_rep"))
        .limit(_ANKI_LIMIT)
        .select(
            strip_control_chars(F.col("written_rep")).alias("written_rep"),
            strip_control_chars(
                F.replace(F.col("trans_list"), F.lit(" | "), F.lit(", "))
            ).alias("trans_list"),
        )
    )


def lang_pair_stats(translation: DataFrame, form: DataFrame | None = None) -> DataFrame:
    """Per-lang-pair statistics table consumed by the frontend.

    Reference /root/reference/src/wdweb.py:300-325 (make_lang_pair): one row
    per (from_lang, to_lang) with the translation count and the rounded sum
    of translation scores; the reference also counts the from-lang
    database's form table, joined in here per from_lang when supplied.
    One shuffle on the pair key; the per-from_lang form count is a tiny
    broadcast.
    """
    stats = translation.groupBy("from_lang", "to_lang").agg(
        F.count(F.lit(1)).alias("translations"),
        F.round(F.sum("translation_score")).cast("long").alias("score"),
    )
    if form is not None:
        fcnt = form.groupBy(F.col("lang").alias("from_lang")).agg(
            F.count(F.lit(1)).alias("forms")
        )
        stats = (
            stats.join(F.broadcast(fcnt), "from_lang", "left")
            .withColumn("forms", F.coalesce("forms", F.lit(0)))
        )
    return stats


def grouped_json(translation_grouped: DataFrame) -> DataFrame:
    """A2 nesting at export time: one JSON document per headword."""
    nested = translation_grouped.groupBy("from_lang", "to_lang", "written_rep").agg(
        F.to_json(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("min_sense_num"),
                        F.col("sense_list"),
                        F.col("trans_list"),
                        F.col("score"),
                    )
                )
            )
        ).alias("entries_json")
    )
    return nested
