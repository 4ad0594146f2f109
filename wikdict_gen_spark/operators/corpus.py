"""End-to-end training-corpus preparation: the composition a 100-TB
pre-training data pipeline actually runs, built from this engine's
primitive operators.

    quality gate  ->  exact dedup  ->  MinHash-LSH near-dup removal

Each stage's shuffle shape is the primitive's (documented at its
definition): one window-min on the content hash, one bucketed band join
(never all-pairs), Jaccard verification on candidate pairs only.  The
near-dup drop rule is the standard greedy one — a document is dropped if
ANY candidate partner with a smaller id verifies as a near-dup — which
is SQL-expressible, so the whole composition sits under the DuckDB
oracle (q_clean_corpus) rather than only unit tests.

Plan discipline (the round-4 lesson): Spark logical plans are trees, so
shared subtrees re-execute once per consumer unless the lineage is cut.
The two multi-consumer trunks here — the canonical-docs table (feeds the
shingle derivation, the anti-join probe and the output projection) and
the shingle table (feeds the MinHash signatures and both sides of the
Jaccard verification, dedup._verified_pairs) — are checkpointed.
Without the cut the round-4 final plan held 60 parquet scans and ran the
tokenize+explode derivation 4x; at 100 TB that is 3-4 redundant passes
over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikdict_gen_spark.operators import dedup as D
from wikdict_gen_spark.operators import textstats as T
from wikdict_gen_spark.operators.partitioning import checkpoint


def clean_corpus(
    docs: DataFrame,
    quality_min: float = 0.5,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 4,
    bands: int = 2,
    k: int = 3,
    compact: bool = True,
) -> DataFrame:
    """Surviving documents of the full prep pipeline.

    Returns (doc_id, quality, content_hash): one row per kept document —
    above the quality floor, canonical for its exact-content group
    (minimum id), and not a verified near-dup of any smaller canonical
    id.  `compact=False` pins the md5-portable MinHash shape (the oracle
    path); production keeps the xxhash64 default.

    Scale notes: the quality gate is pure column arithmetic fused into
    the single corpus scan; exact dedup is one window-min on the 128-bit
    hash carrying the full row (no join back); candidates come from
    banded LSH buckets, so the pair count is driven by real collisions,
    not |docs|²; Jaccard runs only on those pairs, against the one
    materialized shingle table.
    """
    # quality_score is a withColumn — the gated frame IS the good-docs
    # frame, every input column intact (a join back to docs would be a
    # no-op self-join costing one SortMergeJoin + a duplicate corpus scan)
    good = T.quality_score(docs).where(
        F.col("quality") >= F.lit(float(quality_min))
    )

    # canonical representative per exact-content group, among good docs;
    # content_hash is carried on the row from here to the output — never
    # re-derived, never re-joined
    canon = checkpoint(D.exact_dedup_rows(good).select(
        "doc_id", "quality", "text", "content_hash"
    ))
    verified = D._verified_pairs(canon, jaccard_threshold, num_hashes, bands, k, compact)
    # greedy drop: id_b > id_a by construction of the pair list, so every
    # verified pair eliminates its larger id
    drops = verified.select(F.col("id_b").alias("doc_id")).distinct()
    return canon.join(drops, "doc_id", "left_anti").select(
        "doc_id", "quality", "content_hash"
    )
