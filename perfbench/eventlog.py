"""Fold a Spark event log into per-layer metrics.

The traced run tags every call into the program with `setJobGroup(<group>)`,
where a group is `<module>.<function>` relative to `wikdict_gen_spark`
(`operators.process.make_entry`), `catalog.write`/`catalog.read`,
`session`, or `query.<name>` for a contract query.  This module reads the
event log Spark itself writes (`spark.eventLog.enabled`), attributes each
task to the group of its job, and folds the `SparkListenerTaskEnd` metrics
per group and then per layer (the module the group belongs to).

Nothing here imports Spark: the fold runs on the JSON lines alone.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# contract query -> the module whose operator does its work
QUERY_LAYER = {
    "q_gap_rule": "operators.infer",
    "q_evidence_fusion": "operators.infer",
    "q_entry_assembly": "spark_entry",
    "q_topk_mean_norm": "spark_entry",
    "q_window_rank": "spark_entry",
    "q_exact_dedup": "operators.dedup",
    "q_minhash_signature": "operators.dedup",
    "q_minhash_compact": "operators.dedup",
    "q_minhash_inline": "operators.dedup",
    "q_remove_spans": "operators.dedup",
    "q_language_id": "operators.textstats",
    "q_ann_topk": "operators.similarity",
    "q_token_index": "operators.display",
    "q_fuzzy_search": "operators.fuzzy",
    "q_clean_corpus": "operators.corpus",
    "q_line_dedup": "operators.webclean",
    "q_pagerank": "operators.graph",
    "q_bm25": "operators.ranking",
}

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def layer_of(group: str | None) -> str | None:
    """Layer (module) a job group belongs to; None for untagged jobs."""
    if not group or group.startswith("perfbench"):
        return None
    if group.startswith("query."):
        return QUERY_LAYER.get(group.split(".", 1)[1], "spark_entry")
    if group in ("session", "catalog") or group.startswith("catalog."):
        return group.split(".", 1)[0]
    return group.rsplit(".", 1)[0]


class _Acc:
    """Task metrics folded over one group."""

    def __init__(self) -> None:
        self.tasks = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write = 0
        self.shuffle_wait_ms = 0
        self.shuffle_write_ns = 0
        self.spill_disk = 0
        self.peak_mem = 0
        self.records_written = 0
        self.bytes_written = 0
        self.python_bytes = 0
        self.stored_bytes = 0
        self.jobs = 0
        self.stage_tasks: dict = defaultdict(list)

    def add_task(self, stage: int, info: dict, m: dict) -> None:
        self.tasks += 1
        self.run_ms += m.get("Executor Run Time", 0)
        self.cpu_ns += (m.get("Executor CPU Time", 0)
                        + m.get("Executor Deserialize CPU Time", 0))
        self.gc_ms += m.get("JVM GC Time", 0)
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        self.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        self.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
        self.shuffle_wait_ms += sr.get("Fetch Wait Time", 0)
        self.spill_disk += m.get("Disk Bytes Spilled", 0)
        self.peak_mem = max(self.peak_mem, m.get("Peak Execution Memory", 0))
        out = m.get("Output Metrics", {})
        self.records_written += out.get("Records Written", 0)
        self.bytes_written += out.get("Bytes Written", 0)
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        self.stage_tasks[stage].append(dur)

    def skew(self) -> float:
        """Largest max/median task time over the group's multi-task stages."""
        worst = 1.0
        for durs in self.stage_tasks.values():
            med = statistics.median(durs)
            if len(durs) >= 2 and med > 0:
                worst = max(worst, max(durs) / med)
        return worst

    def merge(self, o: "_Acc") -> None:
        for k, v in vars(o).items():
            if k == "peak_mem":
                self.peak_mem = max(self.peak_mem, v)
            elif k == "stage_tasks":
                for s, d in v.items():
                    self.stage_tasks[s].extend(d)
            else:
                setattr(self, k, getattr(self, k) + v)


def read_events(path: str | Path) -> list[dict]:
    """Events of one event-log file (one Spark application)."""
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def fold_dir(path: str | Path) -> dict:
    """Fold every application log in a directory and merge the results
    (stage ids restart in each application, so each is folded alone)."""
    merged = {"groups": defaultdict(_Acc), "gc_s": 0.0, "heap_peak_mb": 0.0}
    for i, f in enumerate(sorted(p for p in Path(path).iterdir() if p.is_file())):
        one = fold(read_events(f))
        for g, acc in one["groups"].items():
            acc.stage_tasks = {(i, s): d for s, d in acc.stage_tasks.items()}
            merged["groups"][g].merge(acc)
        merged["gc_s"] += one["gc_s"]
        merged["heap_peak_mb"] = max(merged["heap_peak_mb"], one["heap_peak_mb"])
    merged["groups"] = dict(merged["groups"])
    return merged


def _python_metric_ids(node: dict, out: set[int]) -> None:
    """Accumulator ids of the Python-boundary SQL metrics in a plan."""
    for m in node.get("metrics", []):
        if m.get("name") in (_PY_SENT, _PY_RECV):
            out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _python_metric_ids(child, out)


def fold(events: list[dict]) -> dict:
    """Fold events into {"groups": {group: _Acc}, "gc_s", "heap_peak_mb"}."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, _Acc] = defaultdict(_Acc)
    py_ids: set[int] = set()
    current: str | None = None
    gc_ms = 0
    heap_peak = 0

    def executor_peaks(em: dict | None) -> None:
        nonlocal gc_ms, heap_peak
        if em:
            gc_ms = max(gc_ms, em.get("TotalGCTime", 0))
            heap_peak = max(heap_peak, em.get("JVMHeapMemory", 0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            current = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups[current].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = current
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            acc = groups[stage_group.get(ev.get("Stage ID"))]
            acc.add_task(ev.get("Stage ID"), info, ev.get("Task Metrics") or {})
            for a in info.get("Accumulables", []):
                if a.get("ID") in py_ids:
                    acc.python_bytes += int(a.get("Update") or 0)
            executor_peaks(ev.get("Task Executor Metrics"))
        elif kind == "SparkListenerBlockUpdated":
            b = ev.get("Block Updated Info", {})
            if str(b.get("Block ID", "")).startswith("rdd_"):
                groups[current].stored_bytes += (b.get("Memory Size", 0)
                                                 + b.get("Disk Size", 0))
        elif kind == "SparkListenerStageExecutorMetrics":
            executor_peaks(ev.get("Executor Metrics"))
        elif kind and kind.endswith(("SQLExecutionStart",
                                     "SQLAdaptiveExecutionUpdate")):
            _python_metric_ids(ev.get("sparkPlanInfo") or {}, py_ids)
    return {"groups": dict(groups), "gc_s": gc_ms / 1000,
            "heap_peak_mb": heap_peak / 2**20}


def layers(folded: dict) -> dict[str, _Acc]:
    """Per-layer accumulators (groups merged by layer_of)."""
    out: dict[str, _Acc] = defaultdict(_Acc)
    for group, acc in folded["groups"].items():
        layer = layer_of(group)
        if layer is not None:
            out[layer].merge(acc)
    return dict(out)


def attribution(folded: dict, python_ms: dict[str, float]) -> dict:
    """Share of executor CPU attributed to named layers, and the top 3
    layers by CPU with their dominant cost.

    python_ms: Python-worker CPU per layer, measured outside Spark (task
    metrics do not see the Python processes).
    """
    total = sum(a.cpu_ns for a in folded["groups"].values())
    by_layer = layers(folded)
    named = sum(a.cpu_ns for a in by_layer.values())
    top = sorted(by_layer.items(), key=lambda kv: -kv[1].cpu_ns)[:3]
    return {
        "cpu_total_s": total / 1e9,
        "cpu_attributed_share": named / total if total else 1.0,
        "top3": [{"layer": name, "cpu_s": a.cpu_ns / 1e9,
                  "dominant": dominant_cost(a, python_ms.get(name, 0.0))}
                 for name, a in top],
    }


def dominant_cost(a: _Acc, python_ms: float = 0.0) -> str:
    """compute, shuffle, gc, spill or python: the largest share of task time.

    Spill has no time metric of its own; a layer that spilled at least as
    many bytes as it shuffled is labelled spill.
    """
    if a.spill_disk and a.spill_disk >= a.shuffle_write:
        return "spill"
    costs = {
        "gc": a.gc_ms,
        "shuffle": a.shuffle_wait_ms + a.shuffle_write_ns / 1e6,
        "python": python_ms,
    }
    costs["compute"] = max(0.0, a.run_ms - sum(costs.values()))
    return max(costs, key=costs.get)


# --- the per-layer metric set ------------------------------------------------------

_FULL = ("wall_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
         "peak_mem_mb", "task_skew")
QUERY_MODULES = ("operators.dedup", "operators.similarity", "operators.fuzzy",
                 "operators.graph", "operators.display", "operators.corpus",
                 "operators.webclean", "operators.ranking",
                 "operators.textstats", "spark_entry")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order (`<layer>.<metric>`)."""
    names = ["session.wall_s",
             "functions.spark_udfs.cpu_s", "functions.spark_udfs.python_bytes",
             "functions.spark_udfs.rows_out",
             "operators.extract.wall_s", "operators.extract.cpu_s",
             "operators.extract.rows_out", "operators.extract.stored_bytes"]
    for layer in ("operators.process", "operators.infer"):
        names += [f"{layer}.{m}" for m in _FULL]
    names += ["operators.generic.wall_s", "operators.generic.cpu_s",
              "operators.canonicalize.wall_s", "operators.canonicalize.cpu_s",
              "operators.canonicalize.jobs",
              "operators.materialize.wall_s", "operators.materialize.cpu_s",
              "operators.materialize.rows_out",
              "operators.materialize.output_bytes",
              "catalog.write_s", "catalog.read_s", "catalog.bytes_written",
              "catalog.files_written", "catalog.commits"]
    for layer in QUERY_MODULES:
        names += [f"{layer}.{m}" for m in
                  ("wall_s", "cpu_s", "shuffle_bytes", "spill_bytes")]
    names += [f"query.{q}.wall_s" for q in QUERY_LAYER]
    names += ["jvm.gc_s", "jvm.heap_peak_mb", "jvm.rss_peak_mb",
              "trace.cpu_attributed_share"]
    return names


def unit_of(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if "bytes" in metric:
        return "bytes"
    if metric.endswith("_mb"):
        return "MB"
    if metric in ("task_skew", "cpu_attributed_share"):
        return "ratio"
    return "count"


def layer_metrics(folded: dict, spans: list, given: dict) -> dict[str, float]:
    """Every per-layer metric from the fold, the benchmark's spans
    [(group, t0, t1)], and `given`: values measured outside the event log
    (set-up time, Python-worker CPU, row counts, files, query walls)."""
    by_layer = layers(folded)
    wall: dict[str, float] = defaultdict(float)
    group_wall: dict[str, float] = defaultdict(float)
    for group, t0, t1 in spans:
        group_wall[group] += t1 - t0
        layer = layer_of(group)
        if layer:
            wall[layer] += t1 - t0
    share = attribution(folded, {})["cpu_attributed_share"]
    special = {
        "catalog.write_s": group_wall["catalog.write"],
        "catalog.read_s": group_wall["catalog.read"],
        "catalog.commits": sum(1 for g, *_ in spans if g == "catalog.write"),
        "functions.spark_udfs.python_bytes": sum(
            a.python_bytes for a in folded["groups"].values()),
        "jvm.gc_s": folded["gc_s"],
        "jvm.heap_peak_mb": folded["heap_peak_mb"],
        "trace.cpu_attributed_share": share,
    }
    out = {}
    for name in per_layer_names():
        if name in given or name in special:
            out[name] = float(given.get(name, special.get(name)))
            continue
        layer, metric = name.rsplit(".", 1)
        a = by_layer.get(layer) or _Acc()
        out[name] = float({
            "wall_s": wall.get(layer, 0.0),
            "cpu_s": a.cpu_ns / 1e9,
            "gc_s": a.gc_ms / 1e3,
            "shuffle_bytes": a.shuffle_write,
            "spill_bytes": a.spill_disk,
            "peak_mem_mb": a.peak_mem / 2**20,
            "task_skew": a.skew() if a.tasks else 0.0,
            "rows_out": a.records_written,
            "stored_bytes": a.stored_bytes,
            "output_bytes": a.bytes_written,
            "bytes_written": a.bytes_written,
            "jobs": a.jobs,
        }.get(metric, 0.0))
    return out
