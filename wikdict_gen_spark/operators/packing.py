"""Training-sequence packing: map each document to its token-offset range
in the virtual concatenation of the corpus — the GPT-style "concatenate
everything, chunk at max_seq_len boundaries" packing that turns a cleaned
corpus into fixed-length training sequences.

The whole problem is one global prefix sum over token counts in document
order.  The naive Spark expression — `sum().over(Window.orderBy(id))`
with no partition key — collapses the corpus into a SINGLE task (Spark
must see every preceding row), which is the textbook scale-killer this
module exists to avoid.  Instead the classic two-phase distributed prefix
sum:

1. range-partition by the document key, so partition p holds a contiguous
   key range entirely below partition p+1's (the ordering guarantee the
   prefix sum needs, whatever boundaries the range sampler picks);
2. a per-partition running sum (window PARTITIONED by the physical
   partition id — parallel, no single task);
3. per-partition totals — ONE ROW PER PARTITION — collected to the
   driver, cumulated, and broadcast back as each partition's base offset.

The only driver-side data is #partitions rows (bounded by cluster
configuration, not by data), and the output is invariant to where the
sampled range boundaries land.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _norm_text
from .partitioning import checkpoint


def pack_offsets(
    docs: DataFrame,
    max_tokens: int = 512,
) -> DataFrame:
    """Per document: token count, start offset in the corpus-order
    concatenation, and the range of max_tokens-sized training sequences
    it lands in (seq_start..seq_end, documents straddle boundaries by
    design — that is what concatenate-and-chunk means).

    Requires `doc_id` to be a unique orderable key (it defines the
    concatenation order).  Token counts use the shared dedup
    normalization (lowercase, collapsed whitespace, split on space).
    """
    n_tok = F.size(F.split(_norm_text(F.col("text")), " "))
    base = docs.select(F.col("doc_id"), n_tok.alias("n_tokens"))

    rp = base.repartitionByRange(F.col("doc_id")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # materialize: the totals collect AND the final output both read this,
    # and pinning the partitioning also removes any chance of the range
    # sampler re-drawing different boundaries between the two passes
    local = checkpoint(rp.withColumn("__local_end", F.sum("n_tokens").over(w)))

    # one row per physical partition — bounded by cluster config, not data
    totals = sorted(
        local.groupBy("__pid").agg(F.sum("n_tokens").alias("t")).collect(),
        key=lambda r: r["__pid"],
    )
    rows, acc = [], 0
    for r in totals:
        rows.append((r["__pid"], acc))
        acc += r["t"]
    spark = docs.sparkSession
    base_off = spark.createDataFrame(rows or [(0, 0)], ["__pid", "__base"])

    joined = local.join(F.broadcast(base_off), "__pid", "left")
    start = (
        F.coalesce("__base", F.lit(0))
        + F.col("__local_end")
        - F.col("n_tokens")
    ).alias("start_offset")
    out = joined.select(F.col("doc_id"), "n_tokens", start)
    m = F.lit(float(max_tokens))
    return out.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / m).cast("long").alias("seq_start"),
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / m)
        .cast("long")
        .alias("seq_end"),
    )
