"""Graph analytics over the constructed knowledge graph: PageRank on the
link/backlink edge table.

Reference parity: the reference scores translations with a static
backlink count (`/root/reference/src/infer.sql` — one aggregation); a
web-scale KG wants the iterative generalization, so `pagerank` is the
engine-added operator that turns the same edge table into a global
importance measure (the canonical use: rank lemma nodes by incoming
translation links instead of raw counts).

Execution shape (what survives 100 TB):

* Out-degrees are one groupBy on src.  Each iteration is exactly one
  shuffle: edges join the current rank vector on src (both sides hash-
  partitioned on the node key, so consecutive iterations reuse the same
  partitioning), then a partial-aggregated sum on dst.  Nothing else
  moves.
* The dangling-mass and node-count scalars are 1-row aggregates crossed
  in (the J10 scalar-subquery discipline) — never a driver collect.
* Iterative lineage is cut with `partitioning.checkpoint` per
  iteration, the same discipline as canonicalize's connected components:
  without the cut, iteration k's plan contains k copies of the full join
  tree and the optimizer re-executes the whole prefix each time.
* Fixed iteration count (the oracle-portable form).  Convergence-driven
  stopping would add one tiny 1-row delta aggregate per iteration; the
  shuffle shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wikdict_gen_spark.operators.partitioning import CKPT_LEVEL, checkpoint


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, pagerank) after `iterations` power-iteration steps.

    Semantics (the standard formulation with dangling redistribution):
    pr_0 = 1/N for every node; each step
        pr_{k+1}(v) = (1-d)/N + d * ( sum_{u->v} pr_k(u)/deg(u)
                                      + dangling_mass_k / N )
    where dangling_mass_k is the total rank sitting on nodes with no
    out-edges — redistributed uniformly so the ranks keep summing to 1.
    Parallel edges are intentional weight (two u->v links push twice the
    rank); callers wanting simple-graph semantics pass edges.distinct().
    """
    edges = edges.select("src", "dst")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Loop-invariant tables use persist(), NOT localCheckpoint: a
    # checkpoint's LogicalRDD reports UnknownPartitioning (verified
    # empirically — the plan then re-exchanges the edge table every
    # iteration), while InMemoryRelation keeps the child plan's
    # outputPartitioning.  Their lineage is one scan+join deep, so the
    # checkpoint's lineage cut buys nothing here; the cut matters for
    # `pr`, whose lineage grows per iteration.
    nodes = nodes.persist(CKPT_LEVEL)
    # every iteration's dangling anti-join probes deg: unpersisted it
    # would re-run the edge scan + groupBy once per step (ADVICE r5)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist(CKPT_LEVEL)
    # attach degrees once: each iteration then joins a (src, dst, deg)
    # table it never recomputes.  repartition("src") pins hash(src) so
    # every iteration's contribution join exchanges only the rank
    # vector, while the edge table — the side that is 100 TB — never
    # moves again: the Pregel partition-once-iterate-many layout.
    edges_deg = edges.join(deg, "src").repartition("src").persist(CKPT_LEVEL)

    n = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    pr = nodes.crossJoin(n).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    d = float(damping)
    for _ in range(int(iterations)):
        contrib = (
            edges_deg.join(pr, edges_deg["src"] == pr["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("contrib"))
        )
        dangling = (
            pr.join(deg, pr["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dangling"))
        )
        pr = (
            nodes.crossJoin(n).crossJoin(dangling)
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(d)) / F.col("n_nodes")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dangling") / F.col("n_nodes")
                    )
                ).alias("pr"),
            )
        )
        pr = checkpoint(pr)
    return pr.select("node", F.col("pr").alias("pagerank"))


def degree_stats(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) — full outer union of the two one-shuffle
    degree aggregations; absent side coalesces to 0."""
    out_d = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
    )
    in_d = (
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.count(F.lit(1)).alias("in_deg"))
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )
