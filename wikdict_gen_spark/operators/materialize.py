"""S8 graph materialization: kg.nodes + kg.edges triple tables.

The unit of output IS the triple: every processed fact becomes one or more
(subj, pred, obj) rows.  Node ids are language-qualified vocable/lexentry
ids; translation edges connect vocable-level nodes, structural edges hang
off lexentry-level nodes.

At scale both tables are written partitioned by language (pair) so that
per-pair consumers prune partitions, mirroring the reference's
one-file-per-pair layout without its fan-out cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _node_id(lang_col, name_col):
    return F.concat_ws("/", lang_col, name_col)


def translation_edges(fused: DataFrame) -> DataFrame:
    """Fused evidence -> translatesTo triples with score + provenance."""
    return fused.select(
        _node_id(F.col("from_lang"), F.col("from_vocable")).alias("subj"),
        F.lit("translatesTo").alias("pred"),
        _node_id(F.col("to_lang"), F.col("to_vocable")).alias("obj"),
        "from_lang",
        "to_lang",
        "sense_num",
        "sense",
        "score",
        "sources",
        "source_details",
    )


def structural_edges(entry: DataFrame, raw_pronun: DataFrame, form: DataFrame,
                     raw_nym: DataFrame) -> DataFrame:
    """Entry/form/nym facts -> structural triples (describes, writtenRep, ...)."""
    base_cols = [
        F.col("lang").alias("from_lang"),
        F.lit(None).cast("string").alias("to_lang"),
        F.lit(None).cast("string").alias("sense_num"),
        F.lit(None).cast("string").alias("sense"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("array<string>").alias("sources"),
        F.lit(None).cast("array<string>").alias("source_details"),
    ]

    def triples(df: DataFrame, subj, pred: str, obj) -> DataFrame:
        return df.select(
            subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj"), *base_cols
        )

    describes = triples(entry, F.col("vocable"), "describes", F.col("lexentry"))
    written = triples(entry, F.col("lexentry"), "writtenRep", F.col("written_rep"))
    pos = triples(
        entry.where(F.col("part_of_speech").isNotNull()),
        F.col("lexentry"), "partOfSpeech", F.col("part_of_speech"),
    )
    gender = triples(
        entry.where(F.col("gender").isNotNull()),
        F.col("lexentry"), "gender", F.col("gender"),
    )
    pronun = triples(raw_pronun, F.col("lexentry"), "pronunciation", F.col("pronun"))
    other_form = triples(
        form.where(F.col("other_written").isNotNull()),
        F.col("lexentry"), "otherForm", F.col("other_written"),
    )
    nyms = raw_nym.select(
        F.col("f").alias("subj"),
        F.col("nym").alias("pred"),
        _node_id(F.col("lang"), F.col("t_rep")).alias("obj"),
        *base_cols,
    )
    return (
        describes.unionByName(written)
        .unionByName(pos)
        .unionByName(gender)
        .unionByName(pronun)
        .unionByName(other_form)
        .unionByName(nyms)
    )


def build_nodes(entry: DataFrame, importance: DataFrame, canonical: DataFrame) -> DataFrame:
    """Vocable+lexentry nodes with salience scores and canonical alias ids."""
    voc_nodes = (
        entry.groupBy("vocable", "lang")
        .agg(F.min("written_rep").alias("written_rep"))
        .join(
            importance.select("vocable", "score", "rel_score"),
            "vocable",
            "left",
        )
        .join(canonical.withColumnRenamed("node", "vocable"), "vocable", "left")
        .select(
            F.col("vocable").alias("node_id"),
            "lang",
            "written_rep",
            F.lit(None).cast("string").alias("part_of_speech"),
            F.lit(None).cast("string").alias("gender"),
            F.lit(None).cast("array<string>").alias("pronun_list"),
            F.col("score").alias("importance"),
            F.col("rel_score").alias("rel_importance"),
            F.coalesce(F.col("canonical"), F.col("vocable")).alias("canonical_id"),
        )
    )
    lex_nodes = entry.select(
        F.col("lexentry").alias("node_id"),
        "lang",
        "written_rep",
        "part_of_speech",
        "gender",
        "pronun_list",
        F.lit(None).cast("double").alias("importance"),
        F.lit(None).cast("double").alias("rel_importance"),
        F.col("vocable").alias("canonical_id"),
    )
    return voc_nodes.unionByName(lex_nodes)


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Triple-level diff between two committed KG snapshots: one row per
    triple present in either side, with status 'added' (new only),
    'removed' (old only), or 'kept'.  This is what an incremental
    publish consumes — ship the added/removed delta instead of the full
    table — and what a regression gate diffs a rebuild against.

    One full-outer join on the triple key.  At scale both snapshots come
    out of the same materialization (same partitioning discipline), so
    writing them bucketed on `subj` makes this diff co-located; the join
    key includes the full triple, so even hot subjects (hub nodes)
    spread across their distinct (pred, obj) fan-out, and AQE's skew
    split covers residual hot keys.  Non-key columns are not compared —
    a score change on a kept triple is 'kept' (diff identity, not
    payload; compare payload columns downstream if needed).
    """
    keys = ["subj", "pred", "obj"]
    o = old.select(*keys).distinct().withColumn("__in_old", F.lit(True))
    n = new.select(*keys).distinct().withColumn("__in_new", F.lit(True))
    j = o.join(n, keys, "full_outer")
    return j.select(
        *keys,
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )
