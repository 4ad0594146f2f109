"""Serving-side enrichment operators (reference wdweb-stage semantics).

These produce the display/search artifacts downstream consumers read:
ranked inflected display forms, the singular×plural pairing with its
uniqueness gate, the token inverted index (the engine's analog of the
reference's FTS tables), and idiom-style multi-word keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# per-language FTS tokenizer choice, mirroring the reference's
# TOKENIZER = defaultdict(lambda: "unicode61", {"en": "porter"})
# (/root/reference/src/wdweb.py:7): English stems with Porter, everything
# else tokenizes plain (lower + whitespace here).
STEMMED_LANGS = frozenset({"en"})
# rows per search query (the reference's LIMIT 100)
_SEARCH_LIMIT = 100


def ranked_display_forms(form: DataFrame) -> DataFrame:
    """W5: per lexentry, ' / '-joined display forms ordered by display rank.

    min(rank) per (lexentry, other_written), forms sharing a rank join with
    ' / ', ranks ordered ascending — fully deterministic (rank, form) order.
    """
    best = (
        form.where(F.col("rank").isNotNull() & F.col("other_written").isNotNull())
        .groupBy("lexentry", "other_written")
        .agg(F.min("rank").alias("rank"))
    )
    per_rank = best.groupBy("lexentry", "rank").agg(
        F.array_join(F.sort_array(F.collect_list("other_written")), " / ").alias("forms")
    )
    return per_rank.groupBy("lexentry").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("rank"), F.col("forms")))),
                lambda x: x.forms,
            ),
            ", ",
        ).alias("display_forms")
    )


def singular_plural_pairs(form: DataFrame) -> DataFrame:
    """A15: nouns with exactly one singular and one plural display form.

    The HAVING count(DISTINCT)=1 gate on each side keeps only unambiguous
    pairings.
    """
    nouns = form.where((F.col("pos") == "noun") & F.col("rank").isNotNull())
    sing = (
        nouns.where(F.col("rank") == 1)
        .groupBy("lexentry")
        .agg(F.countDistinct("other_written").alias("n"), F.min("other_written").alias("singular"))
        .where(F.col("n") == 1)
        .drop("n")
    )
    plur = (
        nouns.where(F.col("rank") == 2)
        .groupBy("lexentry")
        .agg(F.countDistinct("other_written").alias("n"), F.min("other_written").alias("plural"))
        .where(F.col("n") == 1)
        .drop("n")
    )
    return sing.join(plur, "lexentry")


def inverted_token_index(
    translation_grouped: DataFrame,
    form: DataFrame | None = None,
    from_lang: str | None = None,
) -> DataFrame:
    """FTS analog: token -> matching written_rep postings with importance rank.

    Search rows come from headwords and (optionally) inflected forms with a
    0.5 form-importance discount, mirroring the reference's two FTS tables.

    from_lang selects the tokenizer, like the reference's per-lang-pair
    index build: languages in STEMMED_LANGS run tokens through the Porter
    stemmer (Arrow-batched pandas UDF), others index raw lowercase tokens.
    A query-side consumer must stem its query tokens with the same function
    — exactly the FTS4 contract.
    """
    head = translation_grouped.select(
        F.col("written_rep"),
        F.col("written_rep").alias("match_source"),
        F.lit(1.0).alias("form_importance"),
        F.coalesce(F.col("importance"), F.lit(0.0)).alias("importance"),
    )
    rows = head
    if form is not None:
        # forms need the headword: join back through lexentry
        f = (
            form.where(F.col("other_written").isNotNull())
            .join(
                translation_grouped.select("lexentry", "written_rep", "importance").distinct(),
                "lexentry",
            )
            .select(
                "written_rep",
                F.col("other_written").alias("match_source"),
                F.lit(0.5).alias("form_importance"),
                F.coalesce(F.col("importance"), F.lit(0.0)).alias("importance"),
            )
        )
        rows = rows.unionByName(f)
    tokens = rows.select(
        F.explode(F.split(F.lower(F.col("match_source")), r"\s+")).alias("token"),
        "written_rep",
        "form_importance",
        "importance",
    ).where(F.col("token") != "")
    if from_lang in STEMMED_LANGS:
        from wikdict_gen_spark.functions.spark_udfs import porter_stem_udf

        tokens = tokens.withColumn("token", porter_stem_udf(F.col("token")))
    return tokens.groupBy("token", "written_rep").agg(
        F.max(F.col("form_importance") * (F.col("importance") + 1.0)).alias("rank")
    )


def search_translations(
    translation_grouped: DataFrame,
    token_index: DataFrame,
    queries: DataFrame,
    from_lang: str | None = None,
) -> DataFrame:
    """F8 serving-side search as a batch operator (ref run.py:10-28).

    The reference's interactive entry point per query term:
        SELECT ... FROM (SELECT DISTINCT written_rep FROM search_trans
                         WHERE form MATCH :term)
        JOIN translation USING (written_rep)
        ORDER BY lower(written_rep) LIKE '%term%' DESC,
                 length(written_rep), lexentry,
                 coalesce(min_sense_num, '99'),
                 importance * translation_score DESC
        LIMIT 100
    Here the FTS MATCH is an equi-join of the (stemmed, like the index's
    tokenizer) query token against the inverted token index, the LIMIT is
    a per-query row_number window, and many queries run in one job — the
    queries side is a broadcast, the index join is the only shuffle.
    Single-token terms (the reference's CLI contract); extra tiebreaks
    (written_rep, trans_list) make the cut deterministic where sqlite
    leaves it unspecified.
    """
    q = queries.select(
        "query_id", F.lower(F.col("term")).alias("term")
    ).withColumn("token", F.lower(F.col("term")))
    if from_lang in STEMMED_LANGS:
        from wikdict_gen_spark.functions.spark_udfs import porter_stem_udf

        q = q.withColumn("token", porter_stem_udf(F.col("token")))
    matched = (
        F.broadcast(q)
        .join(token_index.select("token", "written_rep").distinct(), "token")
        .select("query_id", "term", "written_rep")
        .distinct()
    )
    joined = matched.join(translation_grouped, "written_rep")
    like_hit = F.lower(F.col("written_rep")).contains(F.col("term"))
    w = Window.partitionBy("query_id").orderBy(
        F.when(like_hit, 1).otherwise(0).desc(),
        F.length("written_rep"),
        F.col("lexentry"),
        F.coalesce(F.col("min_sense_num"), F.lit("99")),
        (F.col("importance") * F.col("translation_score")).desc(),
        F.col("written_rep"),
        F.col("trans_list"),
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SEARCH_LIMIT)
        .select(
            "query_id", "lexentry", "written_rep", "sense_list", "trans_list", "rn"
        )
    )


def idiom_keys(translation_grouped: DataFrame) -> DataFrame:
    """Multi-word headwords (the reference's idioms index)."""
    return (
        translation_grouped.where(F.col("written_rep").contains(" "))
        .groupBy("written_rep")
        .agg(
            F.array_join(
                F.array_distinct(F.sort_array(F.collect_list("trans_list"))), " | "
            ).alias("translations")
        )
    )
