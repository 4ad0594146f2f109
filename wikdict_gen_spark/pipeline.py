"""End-to-end KG-construction pipeline: pages -> kg.nodes + kg.edges.

Stage DAG (each stage = one committed snapshot, resumable via Catalog):

    pages ── extract ── raw_* ──┬─ entry ─┬─ importance ─┐
                                │         ├─ form        │
                                │         └──────────────┼─ translation ─ all_trans
                                │                        │        │
                                └─ nym ── alias_edges ── canonical │
                                                          │   backlink ─ infer ─ infer_grouped
                                                          │        │
                                                 kg_nodes ┴─ kg_edges

`STAGES` lists the DAG in topological order; `run_pipeline` walks it in
one synchronous loop in both modes, with no side thread: connected
components (`canonical`) runs its driver loop in place, in front of the
KG stages.  Kill the driver after any stage and re-run: committed stages
are read back, nothing is recomputed, the final snapshot is identical.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from wikdict_gen_spark.catalog import Catalog
from wikdict_gen_spark.operators import canonicalize, generic, infer, materialize, process
from wikdict_gen_spark.operators.extract import extract_text, parse_records, read_pages, records
from wikdict_gen_spark.operators.partitioning import checkpoint, widen_if_narrow

# Stages referenced by 2+ downstream consumers.  In fused mode these are
# the ONLY lineage-cut points: a re-referenced stage must be checkpointed
# (its analyzed subtree would otherwise be cloned into every consumer —
# exponential plan blowup — and its computation repeated), while a
# linear-chain stage is cheaper left lazy so Catalyst fuses it into its
# consumer's job (fewer serial job barriers, wider codegen spans).  A
# stage consumed once from the returned dict AND once downstream (e.g.
# infer_grouped if a caller materializes it separately) recomputes from
# the nearest upstream checkpoint — bounded by construction.
FANOUT_STAGES = frozenset({
    # NOT "extracted": parse_records reads the records relation, never the
    # extracted text itself, so records() is its only real consumer — the
    # full cleaned corpus text flows straight into the record explode
    # without being materialized a second time
    "records",            # seven raw-table filters
    "entry",              # importance, translation_base, alias_edges, kg_*
    "translation_clean",  # importance, translation_base
    "importance",         # translation_base, translation, simple_translation, kg_nodes
    "translation_base",   # hot-key detection scan + the link join itself
    "all_trans",          # backlink, indirect, direct/reverse/probe in fuse
    "indirect",           # fuse union + anti-join key projection
    "infer",              # infer_grouped, simple_translation, kg_edges
})


def _kg_edges(s: dict) -> DataFrame:
    return materialize.translation_edges(s["infer"]).unionByName(
        materialize.structural_edges(s["entry"], s["raw_pronun"], s["form"], s["raw_nym"]))


# (name, build, partition_by) in topological order.  build(s) reads its
# inputs from the stages built so far; `records` is followed by the seven
# raw_* tables, lazy filters of it (a filter of a committed snapshot costs
# nothing to re-derive, so committing each one would only add latency).
STAGES = [
    ("extracted", lambda s: extract_text(s["pages"]), None),
    ("records", lambda s: records(s["extracted"]), None),
    ("entry", lambda s: process.make_entry(
        s["raw_entry"], s["raw_pos"], s["raw_gender"], s["raw_pronun"]), None),
    ("form", lambda s: process.make_form(s["raw_form"]), None),
    ("translation_clean", lambda s: process.clean_translations(s["raw_translation"]), None),
    ("importance", lambda s: process.make_importance(
        s["entry"], s["translation_clean"], s["raw_nym"]), None),
    ("translation_base", lambda s: process.make_translation_base(
        s["translation_clean"], s["entry"], s["importance"]), None),
    ("translation", lambda s: process.make_translation(
        s["translation_base"], s["importance"], audit=False), None),
    ("all_trans", lambda s: process.make_all_trans(s["translation"]), None),
    ("backlink", lambda s: infer.backlink_score(s["all_trans"]), None),
    ("indirect", lambda s: infer.indirect(s["all_trans"], s["backlink"]), None),
    ("infer", lambda s: infer.fuse_evidence(s["all_trans"], s["backlink"], s["indirect"]), None),
    ("infer_grouped", lambda s: infer.group_inferred(s["infer"]), None),
    ("translation_graded", lambda s: generic.grade_translations(s["infer_grouped"]), None),
    ("translation_grouped", lambda s: generic.group_translations(s["translation_graded"]), None),
    ("simple_translation", lambda s: generic.simple_translations(
        s["infer"], s["importance"]), None),
    ("alias_edges", lambda s: canonicalize.alias_edges(s["entry"], s["raw_nym"]), None),
    ("canonical", lambda s: canonicalize.connected_components(s["alias_edges"]), None),
    ("kg_edges", _kg_edges, ["from_lang"]),
    ("kg_nodes", lambda s: materialize.build_nodes(s["entry"], s["importance"], s["canonical"]),
     ["lang"]),
]
_STAGE_NAMES = tuple(name for name, _, _ in STAGES)


def run_pipeline(spark: SparkSession, pages_path: str, workdir: str,
                 stop_after: str | None = None, fused: bool = False) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns all stage DataFrames.

    stop_after: name of the last stage to commit (for resume testing);
    an unknown name raises ValueError before any Spark job runs.  A pages
    corpus whose schema is not PAGES (operators/extract.py) raises
    ValueError at the read, before the workdir is created.

    fused=True replaces per-stage snapshot commits with lazy local
    checkpoints of FANOUT_STAGES: shared stages materialize once on first
    use and the only durable writes are the caller's terminal actions.
    Stages are built in order on the calling thread, as in checkpointed
    mode; the eager connected-components loop runs when `canonical` is
    reached, so a failure there raises from this call.
    This is the max-throughput shape (a cluster job with only terminal
    Iceberg writes); the default checkpointed mode is the resumable one.

    Why localCheckpoint and not persist(): logical plans are trees, not
    DAGs — every re-reference of a cached stage clones its entire analyzed
    subtree, so 20 composed stages blow the plan up exponentially (measured
    >200k plan nodes at the fuse stage).  localCheckpoint truncates the
    *logical* lineage to a LogicalRDD while the RDD graph still shares each
    stage's computation; eager=False keeps stages lazy until first use.
    The cost is fused-mode fault-tolerance (a lost executor can't recompute
    a local checkpoint) — acceptable: fused mode IS the no-resume shape.
    """
    if stop_after is not None and stop_after not in _STAGE_NAMES:
        raise ValueError(
            f"unknown stop_after {stop_after!r}; valid stages: {', '.join(_STAGE_NAMES)}")
    pages = widen_if_narrow(read_pages(spark, pages_path))
    cat = Catalog(spark, workdir)
    out = {"pages": pages}
    for name, build, partition_by in STAGES:
        if fused:
            df = build(out)
            out[name] = checkpoint(df) if name in FANOUT_STAGES else df
        else:
            out[name] = cat.ensure(name, partial(build, out), partition_by)
        if name == "records":
            raws = parse_records(out["extracted"], out["records"])
            out.update((f"raw_{t}", df) for t, df in raws.items())
        if name == stop_after:
            break
    del out["pages"]
    return out
