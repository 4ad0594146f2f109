"""S3+S5: normalization, importance scoring, entity linking.

Re-expression of the reference's process stage (semantics at
/root/reference/src/process.py) as declarative DataFrame transforms over
*all* languages/pairs at once — the per-language SQLite fan-out becomes
partition parallelism.

Key semantics preserved:
- part-of-speech choice = lexical minimum (choose_pos UDAF semantics)
- conflicting genders for one lexentry -> NULL
- pronunciation lists: deterministic (sorted) ordered aggregation
- NULL-safe 8-column inflection-rank join
- importance = sqrt(#distinct translations) + sqrt(#distinct synonym
  referrers) per vocable (node salience); rel_score normalized by the
  mean of the top-10k scores per language
- translation build: sense-beats-gloss precedence, markup cleanup,
  entity linking of the surface form to the target vocabulary via
  written_rep_guess with the 0.001 importance floor, duplicate-lexentry
  collapse keeping min(lexentry)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wikdict_gen_spark import constants as C
from wikdict_gen_spark.functions.spark_udfs import (
    clean_form_udf,
    clean_wiki_syntax_udf,
    parse_sense_udf,
    sense_num_udf,
)
from wikdict_gen_spark.operators.skew import skew_aware_join

# Display-rank inventory for inflected forms, per language.  This is
# engine configuration (which grammatical slots are worth displaying),
# mirrored from the reference's inflection_table contents.
INFLECTION_RANKS: dict[str, list[dict]] = {
    "de": [
        {"pos": "verb", "rank": 1, "mood": "IndicativeMood", "number": "Singular",
         "person": "First", "tense": "Present", "voice": "ActiveVoice"},
        {"pos": "verb", "rank": 4, "mood": "IndicativeMood", "number": "Singular",
         "person": "First", "tense": "Past", "voice": "ActiveVoice"},
        {"pos": "verb", "rank": 8, "mood": "IndicativeMood", "number": "Singular",
         "person": "First", "tense": "Perfect", "voice": "ActiveVoice"},
        {"pos": "noun", "rank": 1, "number": "Singular", "case": "Nominative"},
        {"pos": "noun", "rank": 2, "number": "Plural", "case": "Nominative"},
    ],
    "en": [
        {"pos": "verb", "rank": 3, "tense": "Past"},
        {"pos": "verb", "rank": 4, "mood": "Participle", "tense": "Past"},
    ],
    "sv": [
        {"pos": "verb", "rank": 1, "mood": "IndicativeMood", "tense": "Present", "voice": "ActiveVoice"},
        {"pos": "verb", "rank": 2, "mood": "IndicativeMood", "tense": "Past", "voice": "ActiveVoice"},
        {"pos": "verb", "rank": 3, "mood": "PastParticiple", "tense": "Supine", "voice": "ActiveVoice"},
        {"pos": "verb", "rank": 3, "tense": "Supine", "voice": "ActiveVoice"},
        {"pos": "noun", "rank": 1, "number": "Singular", "case": "Nominative", "definiteness": "Definite"},
        {"pos": "noun", "rank": 2, "number": "Plural", "case": "Nominative", "definiteness": "Definite"},
    ],
}

_INFL_FEATURES = ["pos", "mood", "number", "person", "tense", "voice", "case", "definiteness"]


def surface_guess_col(vocable):
    """vocable -> guessed surface form (drop 'xxx/' prefix, '_' -> ' ')."""
    return F.replace(F.substr(vocable, F.lit(5)), F.lit("_"), F.lit(" "))


def make_entry(raw_entry: DataFrame, raw_pos: DataFrame, raw_gender: DataFrame,
               raw_pronun: DataFrame) -> DataFrame:
    """Assemble the entry dimension: one row per lexentry."""
    pos_agg = raw_pos.groupBy("lexentry").agg(F.min("part_of_speech").alias("part_of_speech"))
    gender_agg = raw_gender.groupBy("lexentry").agg(
        F.when(F.min("gender") == F.max("gender"), F.min("gender")).alias("gender")
    )
    pronun_agg = raw_pronun.groupBy("lexentry").agg(
        F.sort_array(F.collect_list("pronun")).alias("pronun_list")
    )
    entry = raw_entry.groupBy("lexentry").agg(
        F.min("vocable").alias("vocable"),
        F.min("written_rep").alias("written_rep"),
        F.min("lang").alias("lang"),
    )
    return (
        entry.join(pos_agg, "lexentry", "left")
        .join(gender_agg, "lexentry", "left")
        .join(pronun_agg, "lexentry", "left")
    )


def make_form(raw_form: DataFrame) -> DataFrame:
    """Clean inflected forms and attach display ranks via NULL-safe join.

    The rank inventory is tiny (broadcast); the join predicate is NULL-safe
    equality over all 8 grammatical features plus language.
    """
    # a literal relation, so no Python worker starts to ship 13 rows
    ranks = raw_form.sparkSession.tvf.inline(F.array(*[
        F.struct(
            F.lit(lang).alias("lang"),
            F.lit(r["rank"]).alias("rank"),
            *[F.lit(r.get(f)).cast("string").alias(f) for f in _INFL_FEATURES],
        )
        for lang, rows in INFLECTION_RANKS.items()
        for r in rows
    ]))
    cleaned = (
        raw_form.withColumn("_form", clean_form_udf(F.col("other_written"), F.col("lang")))
        .withColumn("other_written_full", F.col("_form.full"))
        .withColumn("other_written_clean", F.col("_form.clean"))
        .drop("_form")
    )
    pred = cleaned["lang"] == ranks["lang"]
    for f in _INFL_FEATURES:
        pred = pred & cleaned[f].eqNullSafe(ranks[f])
    joined = cleaned.join(F.broadcast(ranks), pred, "left").drop(ranks["lang"])
    for f in _INFL_FEATURES:
        joined = joined.drop(ranks[f])
    return joined.select(
        "lexentry",
        F.col("other_written_clean").alias("other_written"),
        "other_written_full",
        *[cleaned[f] for f in _INFL_FEATURES],
        "inflection",
        "gender",
        "rank",
        "lang",
    )


def make_importance(entry: DataFrame, cleaned_translation: DataFrame, raw_nym: DataFrame) -> DataFrame:
    """Node salience: sqrt(#distinct translations) + sqrt(#distinct synonym referrers).

    Output: (lang, vocable, written_rep_guess, score, rel_score), one row
    per vocable; rel_score = score / mean(top-10k scores of that language).

    F6 pos gate: lexentries whose part of speech is in EXCLUDED_POS
    (abbreviation, letter) are excluded from scoring — vocables with no
    remaining lexentry get no importance row at all, which (via the inner
    from-importance join downstream) drops their translations, matching
    the reference (importance_query FILTER ?pos NOT IN ...,
    /root/reference/src/sparql/queries.py:183; inner JOIN rel_importance,
    /root/reference/src/process.py:251).  NULL pos stays eligible —
    missing metadata shouldn't silently delete data.
    """
    eligible = entry.where(
        F.col("part_of_speech").isNull()
        | ~F.col("part_of_speech").isin(*C.EXCLUDED_POS)
    )
    lex2voc = eligible.select("lexentry", "vocable", "lang")
    trans_counts = (
        cleaned_translation.join(lex2voc, "lexentry")
        .groupBy("lang", "vocable")
        .agg(F.countDistinct("to_lang", "trans").alias("n_trans"))
    )
    # synonym referrers: nym rows whose target surface matches the vocable
    # guess.  Renamed join keys: in fused mode every stage shares one
    # lineage, so same-name attributes collide without explicit aliases.
    syn_counts = (
        raw_nym.where(F.col("nym") == "synonym")
        .groupBy(F.col("lang").alias("syn_lang"), F.col("t_rep").alias("guess"))
        .agg(F.countDistinct("f").alias("n_syn"))
    )
    vocables = eligible.select("lang", "vocable").distinct().withColumn(
        "written_rep_guess", surface_guess_col(F.col("vocable"))
    )
    imp = (
        vocables.join(trans_counts, ["lang", "vocable"], "left")
        .join(
            syn_counts,
            (F.col("lang") == F.col("syn_lang"))
            & (F.col("written_rep_guess") == F.col("guess")),
            "left",
        )
        .drop("syn_lang", "guess")
        .withColumn(
            "score",
            F.sqrt(F.coalesce(F.col("n_trans"), F.lit(0)).cast("double"))
            + F.sqrt(F.coalesce(F.col("n_syn"), F.lit(0)).cast("double")),
        )
        .drop("n_trans", "n_syn")
    )
    # top-k mean per language; deterministic tie-break on vocable.
    # two-phase: a salted per-bucket top-k prunes candidates in parallel
    # before the per-lang window — one task per language would otherwise
    # sort the whole vocabulary serially.
    salt = F.pmod(F.xxhash64("vocable"), F.lit(32))
    w_bucket = Window.partitionBy("lang", salt).orderBy(
        F.col("score").desc(), F.col("vocable")
    )
    candidates = (
        imp.withColumn("__rn", F.row_number().over(w_bucket))
        .where(F.col("__rn") <= C.TOP_K_NORM)
        .drop("__rn")
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("vocable"))
    top = candidates.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= C.TOP_K_NORM
    )
    high = top.groupBy("lang").agg(F.avg("score").alias("high_score"))
    return (
        imp.join(F.broadcast(high), "lang")
        .withColumn("rel_score", F.col("score") / F.col("high_score"))
        .drop("high_score")
    )


def clean_translations(raw_translation: DataFrame) -> DataFrame:
    """Canonicalize the translation surface form (one UDF pass, committed
    once — precedence, importance and linking all consume it)."""
    return raw_translation.withColumn("trans", clean_wiki_syntax_udf(F.col("trans")))


def apply_sense_gloss_precedence(cleaned: DataFrame) -> DataFrame:
    """Sense-attributed translations beat gloss-attributed ones.

    Anti-join on the *cleaned* translation surface (canonical form), then
    union — a gloss row survives only when no sense row exists for the
    same (lexentry, target-lang, cleaned trans).
    """
    sense = cleaned.where(F.col("trans_kind") == "sense")
    gloss = cleaned.where(F.col("trans_kind") == "gloss")
    keys = ["lexentry", "to_lang", "trans"]
    gloss_only = gloss.join(sense.select(*keys).distinct(), keys, "left_anti")
    return sense.unionByName(gloss_only)


def make_translation_base(cleaned_translation: DataFrame, entry: DataFrame,
                          importance: DataFrame) -> DataFrame:
    """Precedence + markup cleanup + source-side joins (the UDF-heavy half).

    Committed separately from the link join so the Arrow-batched cleaning
    runs exactly once even though the skew-aware link join scans its probe
    side twice (hot-key detection + join).
    """
    t = apply_sense_gloss_precedence(cleaned_translation)
    t = (
        t.withColumn("sense_num", sense_num_udf(F.col("sense_num")))
        .withColumn("sense", parse_sense_udf(F.col("sense"), F.col("from_lang")))
        .where(F.col("trans").isNotNull() & (F.col("trans") != ""))
    )
    ent = entry.select("lexentry", "vocable", "written_rep")
    t = t.join(ent, "lexentry")
    from_imp = importance.select(
        F.col("lang").alias("from_lang"),
        "vocable",
        F.col("rel_score").alias("from_importance"),
    )
    return t.join(from_imp, ["from_lang", "vocable"])


def make_translation(
    translation_base: DataFrame, importance: DataFrame, audit: bool = True
) -> DataFrame:
    """Entity linking + duplicate collapse (the join-heavy half).

    The cleaned surface form `trans` resolves to the target language's
    vocabulary through the written_rep_guess dictionary; targets with no
    importance row get the 0.001 floor.  The link join is the #1 skew
    point (hot surface forms), handled by skew_aware_join.

    audit=False skips the all_lexentries inventory column (see
    collapse_duplicate_lexentries) — the throughput pipeline's choice.
    """
    t = translation_base
    to_imp = importance.select(
        F.col("lang").alias("to_lang"),
        F.col("written_rep_guess").alias("trans"),
        F.col("rel_score").alias("to_rel_score"),
    )
    t = skew_aware_join(t, to_imp, ["to_lang", "trans"], how="left")
    t = t.withColumn(
        "to_importance", F.coalesce(F.col("to_rel_score"), F.lit(C.MISSING_IMPORTANCE))
    ).drop("to_rel_score")
    return collapse_duplicate_lexentries(
        t, ["from_lang", "to_lang", "sense_num", "sense", "written_rep", "trans"],
        audit=audit,
    )


def collapse_duplicate_lexentries(
    t: DataFrame, keys: list[str], audit: bool = True
) -> DataFrame:
    """A10 duplicate-lexentry collapse (transitive/intransitive variants).

    One row per translation key: the canonical lexentry is the lexical
    minimum, importances take the max over the collapsed rows, and (with
    audit=True) the full sorted lexentry inventory is kept as an audit
    column (the reference keeps min(lexentry) + an implicit group,
    /root/reference/src/process.py:251-259).

    audit=False drops the inventory: the collect_list array is built in
    the partial aggregation, so it rides the widest exchange of the whole
    pipeline (every translation row's lexentry string, shuffled) — pure
    debugging payload nothing downstream reads.
    """
    aggs = [
        F.min("lexentry").alias("lexentry"),
        F.max("from_importance").alias("from_importance"),
        F.max("to_importance").alias("to_importance"),
    ]
    if audit:
        aggs.append(F.sort_array(F.collect_list("lexentry")).alias("all_lexentries"))
    return t.groupBy(*keys).agg(*aggs)


def make_all_trans(translation: DataFrame) -> DataFrame:
    """Processed translations -> the engine-wide edge table (all pairs)."""
    return translation.select(
        "from_lang",
        "to_lang",
        "lexentry",
        "sense_num",
        F.coalesce(F.col("sense"), F.lit("")).alias("sense"),
        F.col("written_rep").alias("from_vocable"),
        F.col("trans").alias("to_vocable"),
        "from_importance",
        "to_importance",
    )
