"""The Spark side of the benchmark: one process, one session, one phase.

Run as `python3 perfbench/worker.py <spec.json>`; `run.py` writes the spec,
starts this process, and reads `<spec.result>` when it exits.  The first
thing written to the result file is the time the session became ready
(JVM launched, `get_spark` returned, first trivial job done), so a phase
that crashes still reports its set-up time.

Phases:
- `kg`: a checkpointed `run_pipeline` that commits every stage up to and
  including `all_trans` and stops, the state a crash after `all_trans`
  leaves behind; a checkpointed `run_pipeline` on that work directory,
  which reads the committed stages back and builds the rest (the resume);
  then a fused `run_pipeline` with both KG tables written to parquet.
- `contract`: the headline queries, one round, each result collected for
  the output check.

With `trace` set, the KG phases call the program's stage functions one at
a time instead of `run_pipeline`, each under a job group named after the
function, so the event-log fold can attribute work to layers.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

from inputs import rows_digest  # noqa: E402

HEADLINE = [
    "q_gap_rule", "q_evidence_fusion", "q_entry_assembly", "q_topk_mean_norm",
    "q_window_rank", "q_exact_dedup", "q_minhash_signature",
    "q_minhash_compact", "q_minhash_inline", "q_language_id", "q_ann_topk",
    "q_token_index", "q_fuzzy_search", "q_clean_corpus", "q_line_dedup",
    "q_pagerank", "q_bm25", "q_remove_spans",
]


class Result:
    """Result file, rewritten after every update so a crash keeps the rest."""

    def __init__(self, path: str) -> None:
        self.path = Path(path)
        self.data: dict = {}

    def update(self, **kv) -> None:
        self.data.update(kv)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(self.data, default=str))
        tmp.replace(self.path)


class Spans:
    """Wall-clock spans around calls into the program, each under its own
    Spark job group; jobs outside a span run under group `perfbench`."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def __call__(self, group: str):
        if self.enabled:
            self.sc.setJobGroup(group, group)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.spans.append((group, t0, time.monotonic()))
            if self.enabled:
                self.sc.setJobGroup("perfbench", "perfbench")


def session_facts(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return {
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "jvm_args": list(mx.getInputArguments()),
        "spark_conf": dict(spark.sparkContext.getConf().getAll()),
    }


# --- KG -------------------------------------------------------------------------

def _stage_table():
    """(stage, group, build, partition_by) in run_pipeline's order.

    The traced run calls the same public functions run_pipeline calls; the
    group is the function's module path under wikdict_gen_spark."""
    from wikdict_gen_spark.operators import (canonicalize, extract, generic,
                                             infer, materialize, process)

    def edges(s):
        return materialize.translation_edges(s["infer"]).unionByName(
            materialize.structural_edges(s["entry"], s["raw_pronun"],
                                         s["form"], s["raw_nym"]))

    return [
        ("extracted", "operators.extract.extract_text",
         lambda s: extract.extract_text(s["pages"]), None),
        ("records", "operators.extract.records",
         lambda s: extract.records(s["extracted"]), None),
        ("entry", "operators.process.make_entry",
         lambda s: process.make_entry(s["raw_entry"], s["raw_pos"],
                                      s["raw_gender"], s["raw_pronun"]), None),
        ("form", "operators.process.make_form",
         lambda s: process.make_form(s["raw_form"]), None),
        ("translation_clean", "operators.process.clean_translations",
         lambda s: process.clean_translations(s["raw_translation"]), None),
        ("importance", "operators.process.make_importance",
         lambda s: process.make_importance(s["entry"], s["translation_clean"],
                                           s["raw_nym"]), None),
        ("translation_base", "operators.process.make_translation_base",
         lambda s: process.make_translation_base(
             s["translation_clean"], s["entry"], s["importance"]), None),
        ("translation", "operators.process.make_translation",
         lambda s: process.make_translation(s["translation_base"],
                                            s["importance"], audit=False), None),
        ("all_trans", "operators.process.make_all_trans",
         lambda s: process.make_all_trans(s["translation"]), None),
        ("backlink", "operators.infer.backlink_score",
         lambda s: infer.backlink_score(s["all_trans"]), None),
        ("indirect", "operators.infer.indirect",
         lambda s: infer.indirect(s["all_trans"], s["backlink"]), None),
        ("infer", "operators.infer.fuse_evidence",
         lambda s: infer.fuse_evidence(s["all_trans"], s["backlink"],
                                       s["indirect"]), None),
        ("infer_grouped", "operators.infer.group_inferred",
         lambda s: infer.group_inferred(s["infer"]), None),
        ("translation_graded", "operators.generic.grade_translations",
         lambda s: generic.grade_translations(s["infer_grouped"]), None),
        ("translation_grouped", "operators.generic.group_translations",
         lambda s: generic.group_translations(s["translation_graded"]), None),
        ("simple_translation", "operators.generic.simple_translations",
         lambda s: generic.simple_translations(s["infer"], s["importance"]),
         None),
        ("alias_edges", "operators.canonicalize.alias_edges",
         lambda s: canonicalize.alias_edges(s["entry"], s["raw_nym"]), None),
        ("canonical", "operators.canonicalize.connected_components",
         lambda s: canonicalize.connected_components(s["alias_edges"]), None),
        ("kg_edges", "operators.materialize.kg_edges", edges, ["from_lang"]),
        ("kg_nodes", "operators.materialize.build_nodes",
         lambda s: materialize.build_nodes(s["entry"], s["importance"],
                                           s["canonical"]), ["lang"]),
    ]


def _pages(spark, path: str):
    """The pages scan, widened only when it would run under-parallel
    (run_pipeline's guard; the bench corpus is already split wider)."""
    pages = spark.read.parquet(path)
    cores = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < cores:
        pages = pages.repartition(cores * 2)
    return pages


def traced_kg(spark, spans: Spans, pages_path: str, workdir: str,
              fused: bool, stop_after: str | None, out_dir: str | None) -> dict:
    """Stage-by-stage KG build, each stage materialized under its group.

    fused: eager localCheckpoint per stage; the KG tables go to out_dir.
    checkpointed: the stage is materialized, then committed through
    Catalog.write (group catalog.write); committed stages are read back
    (group catalog.read).
    """
    from pyspark import StorageLevel

    from wikdict_gen_spark.catalog import Catalog
    from wikdict_gen_spark.operators.extract import parse_records

    level = StorageLevel(True, True, False, False, 1)
    cat = None if fused else Catalog(spark, workdir)
    s = {"pages": _pages(spark, pages_path)}
    counts = {}
    for name, group, build, partition_by in _stage_table():
        if cat is not None and cat.exists(name):
            with spans("catalog.read"):
                s[name] = cat.read(name)
        elif fused and name in ("kg_edges", "kg_nodes"):
            with spans(group):
                build(s).write.parquet(f"{out_dir}/{name}")
        else:
            with spans(group):
                df = build(s).localCheckpoint(eager=True, storageLevel=level)
            if cat is not None:
                with spans("catalog.write"):
                    df = cat.write(df, name, partition_by)
            s[name] = df
        if fused and name in ("extracted", "records"):
            with spans("perfbench.count"):
                counts[name] = s[name].count()
        if name == "records":
            raws = parse_records(s["extracted"], s["records"])
            s.update({f"raw_{t}": df for t, df in raws.items()})
        if name == stop_after:
            break
    return counts


def kg(spark, spans: Spans, spec: dict, res: Result) -> None:
    """Checkpointed build stopped after all_trans, its resume, then the
    fused build.  The first build in a JVM pays its JIT warm-up; the
    checkpointed prefix, which is not a metric, takes that cost."""
    from wikdict_gen_spark.pipeline import run_pipeline

    pages, out, ckpt = spec["pages"], spec["fused_out"], spec["ckpt"]
    trace = spec["trace"]
    t0 = time.monotonic()
    if trace:
        traced_kg(spark, spans, pages, ckpt, False, "all_trans", None)
    else:
        run_pipeline(spark, pages, ckpt, stop_after="all_trans")
    res.update(prefix_s=time.monotonic() - t0,
               prefix_commits={p.parent.name: p.stat().st_mtime_ns
                               for p in Path(ckpt).glob("*/_COMMITTED")})
    t0 = time.monotonic()
    if trace:
        traced_kg(spark, spans, pages, ckpt, False, None, None)
    else:
        run_pipeline(spark, pages, ckpt)
    res.update(resume_s=time.monotonic() - t0)
    fused_wd = f"{spec['workdir']}/fused"
    t0 = time.monotonic()
    if trace:
        res.update(counts=traced_kg(spark, spans, pages, fused_wd, True, None,
                                    out))
    else:
        stages = run_pipeline(spark, pages, fused_wd, fused=True)
        stages["kg_edges"].write.parquet(f"{out}/kg_edges")
        stages["kg_nodes"].write.parquet(f"{out}/kg_nodes")
    res.update(fused_s=time.monotonic() - t0)


# --- contract queries -------------------------------------------------------------

def q_minhash_compact(spark, sf_dir):
    """q_minhash_signature on the compact (xxhash64) production path.

    Not oracle-portable (DuckDB has no xxhash64); checked by row count
    against q_minhash_signature.
    """
    from pyspark.sql import functions as F

    from wikdict_gen_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = D.minhash_signatures(D.shingles(docs, k=3), num_hashes=4, compact=True)
    return sig.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"mh{i}") for i in range(4)],
    )


def _queries() -> dict:
    import __spark_entry__ as entrymod

    return {**entrymod.queries(), "q_minhash_compact": q_minhash_compact}


def contract(spark, spans: Spans, spec: dict, res: Result) -> None:
    """One round of the queries in the given order, each result collected;
    the digests go to the oracle check outside the timed spans."""
    import __spark_entry__ as entrymod

    queries = _queries()
    tables, order = spec["tables"], spec["order"]
    query_s, digests = {}, {}
    for name in order:
        with spans(f"query.{name}"):
            df = queries[name](spark, tables)
            rows = [tuple(r) for r in df.collect()]
        query_s[name] = spans.spans[-1][2] - spans.spans[-1][1]
        digests[name] = {"rows": len(rows), "digest": rows_digest(df.columns, rows)}
    res.update(query_s=query_s, digests=digests,
               oracle_sql=entrymod.oracle_sql())


PHASES = {"kg": kg, "contract": contract}


def main(spec_path: str) -> None:
    spec = json.loads(Path(spec_path).read_text())
    res = Result(spec["result"])
    from wikdict_gen_spark.session import get_spark

    conf = {}
    if spec["trace"]:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
            "spark.eventLog.logStageExecutorMetrics": "true",
        }
    spark = get_spark(app_name=f"perfbench_{spec['phase']}", extra_conf=conf)
    spans = Spans(spark, spec["trace"])
    with spans("session"):
        spark.range(1).count()
    res.update(ready=time.monotonic(), session=session_facts(spark))
    try:
        PHASES[spec["phase"]](spark, spans, spec, res)
        res.update(spans=spans.spans, ok=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
