"""S6 graph inference: backlink evidence + 2-hop pivot composition + fusion.

Semantics mirror the reference's inference dataflow
(/root/reference/src/infer.sql, /root/reference/src/infer.py:41-58), but the
physical shape is redesigned for 10^12-edge scale:

- The backlink self-join (the reference's backlink_full view) is replaced
  by two *pre-aggregations* + a join on distinct keys.  The naive
  edges⋈edges self-join squares hub-vocable row counts; counting first
  makes the join input |distinct keys| instead of |edges|.
- The pivot-composition join repartitions both sides on the pivot key and
  routes hot pivots (stop-word-like vocables) through the explicit
  skew-aware path; AQE skew splitting stays on as the runtime backstop.
- The gap-rule top-k aggregation (agg_by_score) is a sorted-struct
  collect + a higher-order `aggregate` fold — fully JVM-side, no UDAF,
  deterministic by total ordering (score desc, vocable asc).

Determinism discipline: every ordered aggregation sorts *inside* the
aggregation; nothing relies on plan or scan order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikdict_gen_spark import constants as C
from wikdict_gen_spark.operators.skew import skew_aware_join

_EDGE_KEYS = ["from_lang", "to_lang", "from_vocable", "to_vocable"]


def backlink_score(all_trans: DataFrame) -> DataFrame:
    """Per (edge pair, back_sense): best ratio of backlinks confirming the pair.

    For an edge a->b (langs A->B), the back edges are B->A edges leaving b.
    Grouped by the back edge's sense s:
        all_backlinks(b, s)  = #B->A edges from b with sense s
        good_backlinks(b, s) = #those pointing back at a
        score = good/all  (in (0, 1])
    Pairs with no back edges produce no row (inner-join semantics).
    """
    pairs = all_trans.select(*_EDGE_KEYS).distinct()
    back_all = all_trans.groupBy(
        F.col("from_lang").alias("b_lang"),
        F.col("to_lang").alias("a_lang"),
        F.col("from_vocable").alias("b_voc"),
        F.col("sense").alias("back_sense"),
    ).agg(F.count(F.lit(1)).alias("all_backlinks"))
    back_good = all_trans.groupBy(
        F.col("from_lang").alias("b_lang"),
        F.col("to_lang").alias("a_lang"),
        F.col("from_vocable").alias("b_voc"),
        F.col("to_vocable").alias("a_voc"),
        F.col("sense").alias("back_sense"),
    ).agg(F.count(F.lit(1)).alias("good_backlinks"))
    scored = (
        pairs.join(
            back_all,
            (pairs["to_lang"] == back_all["b_lang"])
            & (pairs["from_lang"] == back_all["a_lang"])
            & (pairs["to_vocable"] == back_all["b_voc"]),
        )
        .join(
            back_good,
            (pairs["to_lang"] == back_good["b_lang"])
            & (pairs["from_lang"] == back_good["a_lang"])
            & (pairs["to_vocable"] == back_good["b_voc"])
            & (pairs["from_vocable"] == back_good["a_voc"])
            & (back_all["back_sense"].eqNullSafe(back_good["back_sense"])),
            "left",
        )
        .select(
            *[pairs[k] for k in _EDGE_KEYS],
            back_all["back_sense"],
            (
                F.coalesce(back_good["good_backlinks"], F.lit(0)).cast("double")
                / back_all["all_backlinks"]
            ).alias("backlink_score"),
        )
    )
    return scored


def indirect(all_trans: DataFrame, backlink: DataFrame) -> DataFrame:
    """2-hop pivot composition: A->B and B->C compose to A->C.

    Scored by the squared backlink ratio of the pivot's sense; pivots with
    no backlink evidence default to score 1.  One output row per
    (A, C, source word, target word, pivot language, source entry/sense).
    """
    # Pre-aggregate BOTH sides to their distinct group-relevant keys before
    # composing (the backlink treatment, applied here too — SURVEY §7.4 O5/O6).
    # The post-join aggregation only takes max/min over columns that are
    # functions of these keys, so deduping first is semantics-preserving and
    # deflates the per-pivot join product quadratically: each side drops from
    # |edges incident to the pivot| to |distinct group keys incident to it|
    # (on real corpora the importance/duplicate-edge fan-out is the bulk).
    t1 = all_trans.groupBy(
        "from_lang",
        "from_vocable",
        "lexentry",
        "sense_num",
        "sense",
        F.col("to_lang").alias("p_lang"),
        F.col("to_vocable").alias("p_voc"),
    ).agg(F.max("from_importance").alias("from_importance"))
    t2 = all_trans.groupBy(
        F.col("from_lang").alias("p_lang"),
        F.col("from_vocable").alias("p_voc"),
        F.col("to_lang").alias("t2_to_lang"),
        F.col("to_vocable").alias("t2_to_vocable"),
        F.col("sense").alias("t2_sense"),
    ).agg(F.max("to_importance").alias("t2_to_importance"))
    # the scale driver: repartition both sides on the pivot key, hot pivots split out
    composed = skew_aware_join(t1, t2, ["p_lang", "p_voc"], how="inner")
    bl = backlink.select(
        F.col("from_lang").alias("b_from_lang"),
        F.col("to_lang").alias("b_to_lang"),
        F.col("from_vocable").alias("b_from_voc"),
        F.col("to_vocable").alias("b_to_voc"),
        F.col("back_sense").alias("b_sense"),
        "backlink_score",
    )
    scored = composed.join(
        bl,
        (F.col("from_lang") == F.col("b_from_lang"))
        & (F.col("p_lang") == F.col("b_to_lang"))
        & (F.col("from_vocable") == F.col("b_from_voc"))
        & (F.col("p_voc") == F.col("b_to_voc"))
        & (F.col("t2_sense").eqNullSafe(F.col("b_sense"))),
        "left",
    )
    agg = scored.groupBy(
        "from_lang",
        F.col("t2_to_lang").alias("to_lang"),
        "from_vocable",
        F.col("t2_to_vocable").alias("to_vocable"),
        "p_lang",
        "lexentry",
        "sense_num",
        "sense",
    ).agg(
        F.coalesce(
            F.round(F.max(F.col("backlink_score") * F.col("backlink_score")) * C.INDIRECT_MAX_FACTOR, 1),
            F.lit(C.INDIRECT_DEFAULT_SCORE),
        ).alias("score"),
        F.max("from_importance").alias("from_importance"),
        F.max("t2_to_importance").alias("to_importance"),
        F.max(F.col("backlink_score")).alias("__max_bl"),
        F.min("p_voc").alias("__pvoc"),
    )
    return agg.select(
        "from_lang",
        "to_lang",
        F.lit("indirect").alias("source"),
        F.concat(
            F.col("p_lang"),
            F.when(F.col("__max_bl") == 1.0, F.lit("+"))
            .when(F.col("__max_bl") < 1.0, F.lit("-"))
            .otherwise(F.lit("")),
            F.lit(":"),
            F.col("__pvoc"),
        ).alias("source_detail"),
        "from_vocable",
        "to_vocable",
        "lexentry",
        "sense_num",
        "sense",
        "score",
        "from_importance",
        "to_importance",
    )


def direct(all_trans: DataFrame) -> DataFrame:
    """Directly-observed edges: constant score 100."""
    return all_trans.select(
        "from_lang",
        "to_lang",
        F.lit("direct").alias("source"),
        F.lit(None).cast("string").alias("source_detail"),
        "from_vocable",
        "to_vocable",
        "lexentry",
        "sense_num",
        "sense",
        F.lit(C.DIRECT_SCORE).alias("score"),
        "from_importance",
        "to_importance",
    )


def direct_reverse(all_trans: DataFrame) -> DataFrame:
    """Edges seen only in the opposite direction: weak evidence (score 2).

    Importance columns intentionally keep their original orientation,
    matching reference semantics.
    """
    return all_trans.select(
        F.col("to_lang").alias("from_lang"),
        F.col("from_lang").alias("to_lang"),
        F.lit("direct_reverse").alias("source"),
        F.lit(None).cast("string").alias("source_detail"),
        F.col("to_vocable").alias("from_vocable"),
        F.col("from_vocable").alias("to_vocable"),
        F.lit(None).cast("string").alias("lexentry"),
        F.lit(None).cast("string").alias("sense_num"),
        F.lit(None).cast("string").alias("sense"),
        F.lit(C.REVERSE_SCORE).alias("score"),
        "from_importance",
        "to_importance",
    )


def fuse_evidence(
    all_trans: DataFrame, backlink: DataFrame, indirect_df: DataFrame
) -> DataFrame:
    """Union direct/indirect/reverse evidence and fuse per candidate edge.

    Reverse edges are kept only where no direct/indirect edge exists for
    the same (langs, vocable pair) — an anti-join fallback.  Fusion sums
    scores and collects sources per (langs, lexentry, sense, vocable pair,
    importances); source lists are sorted for determinism.

    ``backlink`` is not read here: its scores reach fusion through
    ``indirect_df``.
    """
    ind_keys = indirect_df.select(*_EDGE_KEYS)
    probe_keys = all_trans.select(*_EDGE_KEYS).unionByName(ind_keys).distinct()
    with_lexentry = direct(all_trans).unionByName(indirect_df)
    reverse_only = direct_reverse(all_trans).join(probe_keys, _EDGE_KEYS, "left_anti")
    all_inputs = with_lexentry.unionByName(reverse_only)
    return (
        all_inputs.withColumn("sense", F.nullif(F.col("sense"), F.lit("")))
        .groupBy(
            "from_lang",
            "to_lang",
            "lexentry",
            "sense_num",
            "sense",
            "from_vocable",
            "to_vocable",
            "from_importance",
            "to_importance",
        )
        .agg(
            F.sort_array(F.collect_list("source")).alias("sources"),
            F.sort_array(F.collect_list("source_detail")).alias("source_details"),
            F.sum("score").alias("score"),
        )
    )


def gap_rule_list(pair_col: str = "to_vocable", score_col: str = "score"):
    """agg_by_score: accept candidates in score-desc order while each clears a
    floor that rises by GAP_STEP per accepted item; stop at the first miss.

    Returns an aggregate expression producing the ' | '-joined accepted list.
    Total ordering (score desc, candidate asc) makes it deterministic.
    """
    sorted_arr = F.sort_array(
        F.collect_list(F.struct((-F.col(score_col)).alias("ns"), F.col(pair_col).alias("c")))
    )
    init = F.struct(
        F.lit(0.0).alias("floor"),
        F.lit(False).alias("stopped"),
        F.array().cast("array<string>").alias("acc"),
    )

    def step(acc, x):
        take = (~acc.stopped) & (-x.ns >= acc.floor)
        return F.when(
            take,
            F.struct(
                (acc.floor + F.lit(C.GAP_STEP)).alias("floor"),
                F.lit(False).alias("stopped"),
                F.concat(acc.acc, F.array(x.c)).alias("acc"),
            ),
        ).otherwise(
            F.struct(acc.floor.alias("floor"), F.lit(True).alias("stopped"), acc.acc.alias("acc"))
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: F.array_join(acc.acc, " | "))


def group_inferred(infer: DataFrame) -> DataFrame:
    """infer -> infer_grouped: gap-rule translation list per source sense."""
    return infer.groupBy(
        "from_lang", "to_lang", "lexentry", "sense_num", "sense", "from_vocable"
    ).agg(
        gap_rule_list().alias("trans_list"),
        F.max("score").alias("score"),
        F.max("from_importance").alias("from_importance"),
        F.max("to_importance").alias("to_importance"),
    )
