"""End-to-end KG-construction pipeline: pages -> kg.nodes + kg.edges.

Stage DAG:

    pages ── extract ── raw_* ──┬─ entry ─┬─ importance ─┐
                                │         ├─ form        │
                                │         └──────────────┼─ translation ─ all_trans
                                │                        │        │
                                └─ nym ── alias_edges ── canonical │
                                                          │   backlink ─ infer ─ infer_grouped
                                                          │        │
                                                 kg_nodes ┴─ kg_edges

`STAGES` lists the DAG in topological order; `run_pipeline` walks it in
one synchronous loop in both modes.  Lineage is cut only at `CUT_STAGES`
and at the `stop_after` target: a committed snapshot (Catalog) in the
default checkpointed mode, a lazy local checkpoint in fused mode.  Every
other stage stays lazy, so Catalyst fuses it into its consumer's job.
Kill the driver after any committed stage and re-run: committed stages
are read back and never recomputed, lazy stages after the last commit
are rebuilt from it, and the final snapshot is identical.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from wikdict_gen_spark.catalog import Catalog
from wikdict_gen_spark.operators import canonicalize, generic, infer, materialize, process
from wikdict_gen_spark.operators.extract import extract_text, parse_records, read_pages, records
from wikdict_gen_spark.operators.partitioning import checkpoint, widen_if_narrow

# The stages where run_pipeline cuts lineage (besides the stop_after
# target), each for one of three reasons:
# - shared: read by 2+ downstream stages.  A logical plan is a tree, so
#   each re-reference would clone its analyzed subtree into every consumer
#   (exponential plan blowup) and repeat its computation;
# - eager: the stage runs Spark jobs when built, which a resume must not
#   repeat;
# - product: a table the caller reads, so it is computed once.
# A linear-chain stage is cheaper left lazy: Catalyst fuses it into its
# consumer's job (fewer serial job barriers, wider codegen spans).
CUT_STAGES = frozenset({
    # NOT "extracted": parse_records reads the records relation, never the
    # extracted text itself, so records() is its only real consumer
    "records",              # shared: seven raw-table filters
    "entry",                # shared: importance, translation_base, alias_edges, kg_*
    "translation_clean",    # shared: importance, translation_base
    "importance",           # shared: translation_base, translation, simple_translation, kg_nodes
    "translation_base",     # shared: hot-key detection scan + the link join itself
    "all_trans",            # shared: backlink, indirect, direct/reverse/probe in fuse
    "indirect",             # shared: fuse union + anti-join key projection
    "infer",                # shared: infer_grouped, simple_translation, kg_edges
    "canonical",            # eager: the connected-components driver loop
    "translation_grouped",  # product
    "simple_translation",   # product
    "kg_edges",             # product
    "kg_nodes",             # product
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

    stop_after: name of the last stage to build, which is cut like a
    `CUT_STAGES` member (for resume testing); an unknown name raises
    ValueError before any Spark job runs.  A pages corpus whose schema is
    not PAGES (operators/extract.py) raises ValueError at the read, before
    the workdir is created.

    The mode picks the cut once.  Checkpointed (default): `Catalog.ensure`
    commits each cut stage to the workdir, or reads it back if committed.
    fused=True: a lazy `partitioning.checkpoint` per cut stage, no workdir
    is created, and the only durable writes are the caller's terminal
    actions -- the max-throughput shape (a cluster job with only terminal
    Iceberg writes), with no resume.  Either way the eager
    connected-components loop runs when `canonical` is built, so a failure
    there raises from this call.
    """
    if stop_after is not None and stop_after not in _STAGE_NAMES:
        raise ValueError(
            f"unknown stop_after {stop_after!r}; valid stages: {', '.join(_STAGE_NAMES)}")
    pages = widen_if_narrow(read_pages(spark, pages_path))
    cut = ((lambda name, build, partition_by: checkpoint(build())) if fused
           else Catalog(spark, workdir).ensure)
    out = {"pages": pages}
    for name, build, partition_by in STAGES:
        lazy = partial(build, out)
        is_cut = name in CUT_STAGES or name == stop_after
        out[name] = cut(name, lazy, partition_by) if is_cut else lazy()
        if name == "records":
            raws = parse_records(out["extracted"], out["records"])
            out.update((f"raw_{t}", df) for t, df in raws.items())
        if name == stop_after:
            break
    del out["pages"]
    return out
