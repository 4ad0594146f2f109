"""S7 canonicalization: alias collapse via iterative connected components.

Large-star/small-star (alternating star contraction, Kiveris et al.,
SoCC 2014) over alias/synonym edges.  Catalyst cannot express iteration,
so this is a driver-side loop over DataFrames with:
- one shuffle per star step: each node's neighbourhood minimum is a
  window aggregate over the edges partitioned by node, not an aggregate
  joined back; only the small-star output is deduplicated,
- a per-iteration ``partitioning.checkpoint`` to cut lineage (plan
  explosion otherwise); the lazy cut is computed and stored by the same
  job as the iteration's checksum,
- convergence detection by edge-set checksum (count + hash xor), cheap and
  safe against the usual count-only false convergence,
- an iteration cap with a hard error rather than silent truncation.

The component representative is the minimum node id (string order),
matching the engine-wide min-id tie-break discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import checkpoint


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) -> for each node, link its larger neighbors to its min neighbor."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return (
        sym.withColumn("m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonically orient (big, small), then link all small neighbors + self
    to the minimum of the neighborhood."""
    oriented = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    )
    return (
        oriented.withColumn("m", F.min("v").over(Window.partitionBy("u")))
        .select(F.explode(F.array("u", "v")).alias("u"), F.col("m").alias("v"))
        .distinct()
    )


# the alternating-star loop converges in O(log n) rounds; hitting this
# bound means something is wrong, and connected_components raises
_MAX_ITERATIONS = 30


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(u, v) -> mapping(node, canonical) with canonical = component min.

    Every node mentioned in the input appears in the output (including as
    its own canonical when isolated after dedup).
    """
    # duplicates and self-loops need no pass of their own: the large star
    # emits only (v > u) and the small star deduplicates its output
    base = checkpoint(edges.select("u", "v"))
    cur = base
    prev_sig = None
    for _ in range(_MAX_ITERATIONS):
        cur = checkpoint(_small_star(_large_star(cur)))
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {_MAX_ITERATIONS} iterations")
    # after convergence each non-root points straight at its component
    # min; every input node also maps to itself, which never beats the min
    star = cur.select(F.col("u").alias("node"), F.col("v").alias("canonical"))
    nodes = base.select(F.explode(F.array("u", "v")).alias("node"))
    return (
        star.unionByName(nodes.select("node", F.col("node").alias("canonical")))
        .groupBy("node")
        .agg(F.min("canonical").alias("canonical"))
    )


def alias_edges(entry: DataFrame, raw_nym: DataFrame) -> DataFrame:
    """Synonym mentions -> vocable-level alias edges (u, v), same language.

    The nym target is a surface form; it links to the target vocable through
    the same written_rep_guess dictionary used by entity linking.

    F6 pos gate: a nym target page can host many lexical entries, so the
    link is restricted to targets sharing the source entry's part of speech
    (reference nym_query FILTER (?f_pos = ?t_pos),
    /root/reference/src/sparql/queries.py:205).  Both sides must have a pos
    — the reference query binds ?f_pos/?t_pos as required patterns, so
    pos-less entries produce no nym rows at all.  Without this, pos-crossed
    synonym targets over-link alias edges and over-merge components.
    """
    lex2voc = entry.select("lexentry", "vocable", F.col("part_of_speech").alias("f_pos"))
    target_voc = entry.select(
        F.col("lang").alias("t_lang"),
        F.col("written_rep").alias("t_rep"),
        F.col("vocable").alias("t_vocable"),
        F.col("part_of_speech").alias("t_pos"),
    ).distinct()
    syn = raw_nym.where(F.col("nym") == "synonym")
    return (
        syn.join(lex2voc, syn["f"] == lex2voc["lexentry"])
        .join(
            target_voc,
            (F.col("lang") == F.col("t_lang"))
            & (syn["t_rep"] == target_voc["t_rep"])
            & (F.col("f_pos") == F.col("t_pos")),
        )
        .select(F.col("vocable").alias("u"), F.col("t_vocable").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
