"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, document fingerprinting.

Everything is JVM-side column arithmetic (regex + array ops); the operators
are single-pass map transforms with no shuffle, so they pipeline into any
downstream dedup/filter stage for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword inventories for the n-gram/stopword heuristic
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "en": ["the", "and", "is", "not", "of", "to", "a", "in", "that", "it"],
    "sv": ["och", "att", "det", "som", "en", "på", "är", "av", "för", "med"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pas"],
}


def _tokens(col):
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens plus a BPE-ish subword estimate (4 chars/token)."""
    toks = _tokens(F.col("text"))
    return docs.withColumn("n_tokens", F.size(toks)).withColumn(
        "n_subword_est",
        F.ceil(F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / F.lit(4.0)).cast("bigint"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: per language, count token hits in the
    stopword inventory; argmax wins (ties broken by language code)."""
    toks = _tokens(F.col("text"))
    scores = [
        F.struct(
            F.size(
                F.filter(toks, lambda t: t.isin(*[F.lit(w).cast("string") for w in words]))
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(STOPWORDS.items())
    ]
    best = F.array_max(F.array(*scores))
    return docs.withColumn(
        "lang_pred",
        F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(F.lit("und")),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality in [0,1]: length band, punctuation ratio,
    stopword ratio, mean word length band."""
    text = F.col("text")
    toks = _tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    all_stop = [w for ws in STOPWORDS.values() for w in ws]
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in all_stop])))
    len_ok = (n_chars >= 20) & (n_chars <= 100000)
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    stop_ratio = stop_hits.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    mean_word = n_chars.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    score = (
        F.when(len_ok, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_word >= 3.0) & (mean_word <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return docs.withColumn("quality", score)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, table A1): the
    standard web-corpus filters for boilerplate and degenerate text.

    Adds, all JVM-side column arithmetic (no shuffle, no UDF):

      dup_line_frac       repeated occurrences of a line / n_lines
      dup_line_char_frac  chars inside those repeated occurrences / chars
      top_bigram_frac     occurrences of the most common word bigram /
                          n_bigrams (array_sort + aggregate HOF: longest
                          equal run in the sorted bigram list == max
                          occurrence count — the A5 gap-rule pattern)
      max_word_run_frac   longest run of one repeated token / n_tokens
                          (same HOF over the UNsorted token list)

    Degenerate inputs (empty text, single token) score 0.0 — a short doc
    is not "repetitive", it is short; length lives in quality_score.
    """
    text = F.col("text")
    toks = _tokens(text)
    n_tok = F.size(toks)

    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines)
    distinct_lines = F.array_distinct(lines)
    line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, l: acc + F.length(l)
    )
    distinct_line_chars = F.aggregate(
        distinct_lines, F.lit(0), lambda acc, l: acc + F.length(l)
    )

    def longest_run(arr):
        # (prev, run, best) accumulator; best == longest stretch of equal
        # adjacent elements.  On a sorted array that is the mode's count.
        acc0 = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        )

        def step(acc, x):
            run = F.when(x == acc.getField("prev"), acc.getField("run") + 1).otherwise(
                F.lit(1)
            )
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc.getField("best"), run).alias("best"),
            )

        return F.aggregate(arr, acc0, step, lambda acc: acc.getField("best"))

    bigrams = F.when(
        n_tok >= 2,
        F.transform(
            F.sequence(F.lit(0), n_tok - 2),
            lambda i: F.concat(F.element_at(toks, i + 1), F.lit(" "), F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_bigrams = F.size(bigrams)

    zero_if_empty = lambda num, den: F.when(  # noqa: E731
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))

    return (
        docs.withColumn(
            "dup_line_frac",
            zero_if_empty(n_lines - F.size(distinct_lines), n_lines),
        )
        .withColumn(
            "dup_line_char_frac",
            zero_if_empty(line_chars - distinct_line_chars, line_chars),
        )
        .withColumn(
            "top_bigram_frac",
            zero_if_empty(longest_run(F.array_sort(bigrams)), n_bigrams),
        )
        .withColumn(
            "max_word_run_frac",
            F.when(n_tok >= 2, longest_run(toks).cast("double") / n_tok.cast("double"))
            .otherwise(F.lit(0.0)),
        )
    )


def fingerprint(docs: DataFrame, k: int = 5) -> DataFrame:
    """Document fingerprint: md5 of normalized text (exact) plus a winnowed
    k-gram min-hash (robust to local edits): min md5 over word k-grams."""
    toks = _tokens(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, k), " ")),
    )
    return docs.withColumn(
        "fp_exact", F.md5(F.array_join(toks, " "))
    ).withColumn("fp_winnow", F.array_min(grams))


def collocations(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus-level bigram collocation mining by pointwise mutual
    information: PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) with p() estimated
    from corpus bigram/unigram counts.  The standard phrase-detection
    pass (word2vec's phrase join, spaCy's collocation scorer) a training
    pipeline runs before tokenizer training.

    Returns (w1, w2, n_pair, n_w1, n_w2, pmi) for bigrams seen at least
    `min_count` times.

    Scale shape: two partial-aggregated counts (bigrams, unigrams) — the
    only shuffles — then the unigram table joins in twice on a single
    word key.  Unigram counts follow Zipf: the table is tiny relative to
    the corpus (vocabulary, not tokens), so both probability joins
    broadcast.  The `min_count` filter lands BEFORE the joins, cutting
    the long tail (hapax bigrams are most of the distinct mass) out of
    the join entirely.
    """
    toks = _tokens(F.col("text"))
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    # F.get (0-based, null past the end) rather than element_at: ANSI mode
    # (the Spark 4 default, on in session.py) makes out-of-bounds
    # element_at an error, and the last token has no successor
    grams = F.filter(
        F.transform(
            toks,
            lambda t, i: F.struct(
                t.alias("w1"), F.get(toks, i + 1).alias("w2")
            ),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    pairs = (
        docs.select(F.explode(grams).alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= F.lit(int(min_count)))
    )
    n_tok = uni.agg(F.sum("n_w").alias("n_tokens"))
    # total bigram count must include filtered-out pairs: derive it from
    # token arithmetic (sum over docs of max(len-1, 0)) so the
    # probabilities are true corpus probabilities, not post-filter ones
    n_big = docs.select(
        F.sum(F.greatest(F.size(toks) - 1, F.lit(0))).alias("n_bigrams")
    )
    uni1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    uni2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    return (
        pairs.join(F.broadcast(uni1), "w1")
        .join(F.broadcast(uni2), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1", "w2", "n_pair", "n_w1", "n_w2",
            F.log(
                (F.col("n_pair").cast("double") / F.col("n_bigrams"))
                / (
                    (F.col("n_w1").cast("double") / F.col("n_tokens"))
                    * (F.col("n_w2").cast("double") / F.col("n_tokens"))
                )
            ).alias("pmi"),
        )
    )
