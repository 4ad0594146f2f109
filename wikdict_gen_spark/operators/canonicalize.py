"""S7 canonicalization: alias collapse via iterative connected components.

Large-star/small-star (alternating star contraction) over alias/synonym
edges.  Catalyst cannot express iteration, so this is a driver-side loop
over DataFrames with:
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import checkpoint


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) -> for each node, link its larger neighbors to its min neighbor."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonically orient (big, small), then link all small neighbors + self
    to the minimum of the neighborhood."""
    oriented = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    relinked = oriented.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_links = mins.select(F.col("u"), F.col("m").alias("v"))
    return relinked.unionByName(self_links).distinct()


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
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    cur = checkpoint(edges.select("u", "v").where(F.col("u") != F.col("v")).distinct())
    prev_sig = None
    for _ in range(_MAX_ITERATIONS):
        cur = checkpoint(_small_star(_large_star(cur)))
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {_MAX_ITERATIONS} iterations")
    star = cur.select(F.col("u").alias("node"), F.col("v").alias("canonical"))
    # after convergence each non-root points straight at its component min
    mapping = (
        nodes.join(star.groupBy("node").agg(F.min("canonical").alias("canonical")), "node", "left")
        .select("node", F.coalesce(F.col("canonical"), F.col("node")).alias("canonical"))
    )
    return mapping


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
