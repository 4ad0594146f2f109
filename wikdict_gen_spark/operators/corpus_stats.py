"""Corpus-level rollups: per-source/lang health metrics, exact and sketched.

Two tiers with identical semantics and different cost envelopes:

* `source_stats` — EXACT per-(source, lang) rollup (count-distinct of the
  content hash, duplicate rate, mean quality/chars).  Count-distinct is a
  full shuffle of every 128-bit hash; right for dashboards at table scale
  and for sitting under the value-hash oracle (q_source_stats).
* `corpus_sketches` — the 100-TB path: HyperLogLog++ distinct counts
  (`approx_count_distinct`) and KLL-style quantiles (`percentile_approx`)
  are both partial-aggregable, so the plan is ONE map-side pass with
  fixed-size sketch state per group and a tiny final merge — no row-level
  shuffle at all.  Deterministic for a given input (HLL++ has no RNG), but
  the sketch VALUES are engine-specific, so correctness is pinned by
  pytest error bounds against the exact tier, not by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _norm_text
from .textstats import quality_score

# percentile_approx accuracy: rank error <= 1/accuracy
_QUANTILE_ACCURACY = 10000

def source_stats(docs: DataFrame) -> DataFrame:
    """Exact per-(source, lang) corpus health rollup.

    Returns (source, lang, n_docs, n_distinct, dup_rate, mean_quality,
    mean_chars).  dup_rate is (n_docs - n_distinct) / n_docs — the mass a
    downstream exact-dedup pass would remove, the first thing a crawl
    triage dashboard ranks sources by.  All divisions are exact
    bigint/bigint (and quality sums are exact quarter-increment doubles),
    so every column sits under the hash oracle with no rounding.

    Scale shape: one shuffle keyed on (source, lang, content_hash) hidden
    inside countDistinct's two-phase expansion; map-side partial
    aggregation handles everything else.  Source skew (one giant domain)
    lands on the distinct phase where AQE's skew split applies, because
    the pre-aggregation key includes the high-cardinality hash.
    """
    scored = quality_score(docs).withColumn(
        "__ch", F.md5(_norm_text(F.col("text")))
    )
    n = F.count(F.lit(1))
    return (
        scored.groupBy("source", "lang")
        .agg(
            n.alias("n_docs"),
            F.countDistinct("__ch").alias("n_distinct"),
            (
                (n - F.countDistinct("__ch")).cast("double")
                / n.cast("double")
            ).alias("dup_rate"),
            (F.sum("quality") / n.cast("double")).alias("mean_quality"),
            (
                F.sum(F.length(F.col("text"))).cast("double")
                / n.cast("double")
            ).alias("mean_chars"),
        )
    )


def corpus_sketches(docs: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Sketch-tier per-lang corpus metrics: approximate distinct documents
    and length quantiles in ONE combiner-friendly pass.

    Returns (lang, n_docs, approx_distinct, len_p50, len_p90, len_p99).
    `rsd` is the HLL++ target relative standard deviation (2% default →
    ~6KB of sketch state per group regardless of cardinality);
    `quantile_accuracy` trades percentile_approx memory for rank error
    (error <= 1/accuracy of the rank).

    This is what replaces `source_stats`'s countDistinct at 10^12 rows:
    the exact tier shuffles every content hash (TBs on the wire for a
    crawl), the sketch tier ships a few KB per (partition, group) and
    merges.  Accuracy contract is pinned by tests/test_corpus_stats.py
    against the exact tier on the same input (|approx-exact|/exact within
    3*rsd; quantiles within rank error) rather than by the DuckDB oracle,
    because sketch values are engine-specific by design.
    """
    ch = F.md5(_norm_text(F.col("text")))
    ln = F.length(F.col("text"))
    return (
        docs.select(F.col("lang"), ch.alias("__ch"), ln.alias("__len"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.approx_count_distinct("__ch", rsd).alias("approx_distinct"),
            F.percentile_approx(
                "__len", [0.5, 0.9, 0.99], _QUANTILE_ACCURACY
            ).alias("__q"),
        )
        .select(
            "lang",
            "n_docs",
            "approx_distinct",
            F.get("__q", 0).alias("len_p50"),
            F.get("__q", 1).alias("len_p90"),
            F.get("__q", 2).alias("len_p99"),
        )
    )
