"""The event-log fold on a tiny recorded log.

tiny_eventlog.jsonl is a real Spark 4.1 event log (local[2]), cut down to
the event kinds and fields the fold reads.  Its jobs ran under these
groups, in order: session (a trivial count), operators.extract.extract_text
(the extract pandas UDF over a 20-concept corpus, eagerly
localCheckpointed), operators.process.make_entry (a two-partition
aggregation), catalog.write (a parquet write), query.q_window_rank (a
top-k sort) and perfbench (an untagged count).
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402

LOG = HERE / "data" / "tiny_eventlog.jsonl"
GROUPS = ["session", "operators.extract.extract_text",
          "operators.process.make_entry", "catalog.write",
          "query.q_window_rank", "perfbench"]


def _folded() -> dict:
    return eventlog.fold(eventlog.read_events(LOG))


def test_every_task_lands_in_its_group():
    groups = _folded()["groups"]
    assert set(groups) == set(GROUPS)
    for g in GROUPS:
        assert groups[g].jobs >= 1 and groups[g].tasks >= 1, g
        assert groups[g].cpu_ns > 0, g
    n_tasks = sum(1 for e in eventlog.read_events(LOG)
                  if e["Event"] == "SparkListenerTaskEnd")
    assert sum(a.tasks for a in groups.values()) == n_tasks


def test_layer_specific_counters():
    groups = _folded()["groups"]
    extract = groups["operators.extract.extract_text"]
    assert extract.python_bytes > 0        # Arrow batches to and from Python
    assert extract.stored_bytes > 0        # the localCheckpoint blocks
    assert groups["operators.process.make_entry"].shuffle_write > 0
    write = groups["catalog.write"]
    assert write.records_written == 500 and write.bytes_written > 0
    for g in GROUPS:
        if g != "operators.extract.extract_text":
            assert groups[g].python_bytes == 0, g


def test_layers_and_attribution():
    assert eventlog.layer_of("operators.process.make_entry") == "operators.process"
    assert eventlog.layer_of("catalog.write") == "catalog"
    assert eventlog.layer_of("query.q_gap_rule") == "operators.infer"
    assert eventlog.layer_of("query.q_window_rank") == "spark_entry"
    assert eventlog.layer_of("perfbench") is None
    assert eventlog.layer_of(None) is None
    folded = _folded()
    groups = folded["groups"]
    att = eventlog.attribution(folded, {})
    total = sum(a.cpu_ns for a in groups.values())
    assert math.isclose(att["cpu_attributed_share"],
                        1 - groups["perfbench"].cpu_ns / total)
    assert len(att["top3"]) == 3
    assert {t["dominant"] for t in att["top3"]} <= {
        "compute", "shuffle", "gc", "spill", "python"}


def test_dominant_cost():
    a = eventlog._Acc()
    a.run_ms, a.gc_ms = 1000, 100
    assert eventlog.dominant_cost(a) == "compute"
    assert eventlog.dominant_cost(a, python_ms=800) == "python"
    a.shuffle_wait_ms = 700
    assert eventlog.dominant_cost(a) == "shuffle"
    a.spill_disk, a.shuffle_write = 10, 5
    assert eventlog.dominant_cost(a) == "spill"


def test_layer_metrics_cover_every_name():
    spans = [("catalog.write", 1.0, 1.5), ("catalog.write", 2.0, 2.25),
             ("operators.process.make_entry", 3.0, 4.0)]
    m = eventlog.layer_metrics(_folded(), spans, {"session.wall_s": 7.0})
    assert list(m) == eventlog.per_layer_names()
    assert all(isinstance(v, float) and math.isfinite(v) for v in m.values())
    assert m["session.wall_s"] == 7.0
    assert m["catalog.commits"] == 2 and m["catalog.write_s"] == 0.75
    assert m["operators.process.wall_s"] == 1.0
    assert m["catalog.bytes_written"] > 0
    assert m["spark_entry.cpu_s"] > 0
    assert 0 < m["trace.cpu_attributed_share"] < 1


def test_benchmark_json_matches_the_code():
    import run

    bench = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    assert bench["paths"] == ["perfbench"]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, eventlog.unit_of(n)) for n in eventlog.per_layer_names()]
