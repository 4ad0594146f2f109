"""Plan shape: the scan-parallelism guard and the one lineage-cut policy.

Scan-parallelism guard: widen under-parallel inputs before heavy
per-row compute.

A parquet file is splittable only at row-group granularity, so a corpus
written as few files with large row groups (one 50k-row row group in the
sandbox testdata) scans as a SINGLE task no matter how many cores the
cluster has — and every narrow transformation fused onto that scan
(tokenize, k-gram construction, per-shingle hashing) runs single-threaded
while the rest of the cluster idles.  That is the "one huge unsplittable
file" input-skew case of the optimization playbook: the fix is one
widening shuffle immediately after the read, paid ONLY when the layout is
actually under-parallel.

``widen_if_narrow`` is that guard (the KG pipeline's pages scan goes
through it too, wikdict_gen_spark/pipeline.py): if the input's physical
partition count is below the cluster's core count, round-robin
repartition to twice the core count; otherwise return the input untouched.
A normally-laid-out corpus (many files / row groups — any real crawl at
cluster scale) already plans >= cores partitions and skips the shuffle
entirely, so the guard is scale-adaptive by construction: it costs one
exchange of the narrow slice of data that provably cannot use the
cluster, and nothing anywhere else.

Row-to-partition assignment is not semantically relevant to any operator
in this engine (every aggregation orders inside the aggregate; sampling
gates on content hashes; pack_offsets is range-partition-invariant by
design), so the round-robin move is results-neutral — the oracle gate
pins that.

Lineage cut: ``checkpoint`` is the one way the engine cuts a logical plan
(the pipeline's cut stages in fused mode, operator trunks read by several
consumers, iterative loops, the contract's shared derived inputs).
"""

from __future__ import annotations

import itertools

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OBS_IDS = itertools.count()
_WIDEN_FACTOR = 2

# memory+disk, serialized (PySpark exposes no _SER constant)
CKPT_LEVEL = StorageLevel(True, True, False, False, 1)


def checkpoint(df: DataFrame) -> DataFrame:
    """Lazy local checkpoint of ``df`` at ``CKPT_LEVEL``.

    Logical plans are trees, not DAGs: every re-reference of a shared
    subtree clones and re-executes it, so a frame read by several
    consumers (or grown by a loop) is cut to a LogicalRDD computed once,
    on first use (``eager=False``).  The blocks are serialized because
    checkpointed frames are re-scanned by several consumers, and
    deserialized row objects make those scans GC-bound (measured ~6% of
    pipeline wall at 4 cores).
    """
    return df.localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to 2*cores iff its physical partition count
    is below the cluster core count.  Plan-time only (no job): the
    partition probe forces physical planning, not execution.

    The widened frame carries an ``observe`` (CollectMetrics) node as a
    predicate-pushdown BARRIER.  Without it, Catalyst substitutes
    derived-column filters (e.g. clean_corpus's quality gate — a
    tokenize + stopword-scan CASE expression) and pushes them below the
    repartition into the scan, which is exactly the 1-task stage the
    widening exists to escape: the gate then evaluates serially at the
    scan AND again in the parallel projection above (measured 3.05s vs
    0.93s for the clean_corpus gate stage at sf1.0).  The barrier keeps
    every downstream expression above the widening exchange.  Column
    pruning is unaffected (verified: ReadSchema stays minimal), and
    since the barrier exists only when the guard fires, scan-level
    predicate pushdown on a normally-laid-out corpus is untouched.
    The metric itself (a row count) is a by-product nothing consumes.
    Metric names are counter-unique per call; Spark rejects two
    same-named CollectMetrics nodes unless they are the SAME DataFrame
    instance, so callers that read one input several times must reuse
    the returned frame rather than re-wrap (the entry reader memoizes
    per (application, sf_dir, table) for exactly this reason — which
    also keeps repeated builds of a query plan-identical, preserving
    CacheManager matching of persisted subtrees: per-call-distinct
    plans cost q_pagerank's loop-invariant cache hits, measured
    2.2s -> 5.1s).
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores * _WIDEN_FACTOR).observe(
            f"__widen_{next(_OBS_IDS)}", F.count(F.lit(1))
        )
    return df
