"""BM25 full-text relevance ranking over the token index — the scoring
tier above the FTS operators (display.py builds the token index and the
reference's 0.5/1.0 token weights; this adds the standard probabilistic
ranking function, in Lucene's BM25+1 idf form so scores are always
positive).

Scale shape: the per-(doc, term) frequency aggregation filters to the
QUERY'S terms before the explode is aggregated — Catalyst pushes the
`isin` down to the generator, so the shuffle carries only matching
postings, not the whole index.  Document length and corpus statistics
(N, avgdl, df) are scalar/row-per-term aggregates crossed or broadcast
in; the final score is one groupBy(doc) over at most |query| rows per
doc.  Nothing scales with corpus size except the one postings shuffle —
the same shape a distributed inverted-index build has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikdict_gen_spark.operators.textstats import _tokens


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score): BM25 of each document matching >= 1 query term.

    score(d) = sum over query terms t of
        idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * |d| / avgdl))
    with idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)  (Lucene's shifted
    idf: non-negative even for terms in over half the corpus).

    Duplicate query terms are deduplicated (a term scores once).  Corpus
    stats are exact-integer until the final double arithmetic: avgdl is
    computed as exact bigint sum / count rather than a float running
    mean, so the value is engine-reproducible.
    """
    terms = sorted(set(query_terms))
    if not terms:
        # Column.isin() with zero arguments dies deep in py4j; surface
        # the caller's mistake at the API boundary instead
        raise ValueError("bm25_scores: query_terms must be non-empty")
    toks = _tokens(F.col("text"))
    base = docs.select(
        F.col("doc_id"), F.explode(toks).alias("term"),
        F.size(toks).alias("dl"),
    )
    # postings for the query terms only: the isin filter sits under the
    # aggregation, so non-matching tokens never shuffle
    tf = (
        base.where(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(toks)).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(float(k1)) * (
        F.lit(1.0 - float(b)) + F.lit(float(b)) * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("doc_id"),
            (idf * tf_d * F.lit(float(k1) + 1.0) / denom).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
