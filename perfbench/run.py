#!/usr/bin/env python3
"""The repository's benchmark: KG build and contract queries, end to end.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1       # every workload

Run from the repository root.  Each run starts fresh Spark processes
(`worker.py`), one at a time, with the program's defaults except the two
host facts the program cannot derive yet: `SPARK_GRAFT_CPUS` = nproc and
`SPARK_GRAFT_DRIVER_MEM` = 40% of MemTotal.  Spark's local and temp
directories are pointed into the run's work directory, so a run writes only
under `.perfbench/` in the checkout.  See perfbench/README.md for the
workloads and metrics.

Output: human-readable lines, then, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`).  A record of the run
(host, config, per-operation detail) is written to `.perfbench/`.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import eventlog  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("kg_build", "contract_queries")
# 1000 concepts: about 34k triples; the pipeline's fixed cost (about 20
# serial stages of planning and scheduling) still dominates at this size,
# but larger corpora do not fit a run in the time budget on 4 vCPUs.
KG_CONCEPTS = 500
# Share of MemTotal given to the driver JVM.  At 60% (9g on a 16 GB host)
# the KG run peaked at 12.3 GB of process memory (PSS); 40% keeps the
# program's default pre-touched -Xms regime (driver memory above 5g) and
# leaves room for other tenants of a shared host.
DRIVER_MEM_SHARE = 0.4
# Peak memory is reported in the record and as the per-layer metric
# jvm.rss_peak_mb, not gated: G1 grows the heap on its own schedule, and
# the peak moved by 0.6 of its median (IQR) across five seeds of kg_build.
END_TO_END = {"setup_s": "s", "work_s": "s", "cpu_s": "s"}
PHASE_TIMEOUT_S = {"kg": 150, "contract": 150}
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# --- host and config record ------------------------------------------------------

def _read(path: str, default: str = "") -> str:
    try:
        return Path(path).read_text().strip()
    except OSError:
        return default


def mem_total_kb() -> int:
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    raise SystemExit("cannot read MemTotal from /proc/meminfo")


def sha256_anchor(nproc: int, mb: int = 100) -> dict:
    """Fixed-work CPU anchor: sha256 over `mb` MiB on one thread, then on
    nproc threads at once (hashlib releases the GIL on large buffers), so a
    slow or contended host window shows beside the numbers."""
    buf = b"\xab" * (1 << 20)

    def one(_):
        h = hashlib.sha256()
        for _ in range(mb):
            h.update(buf)
        return h.hexdigest()

    t0 = time.monotonic()
    one(0)
    single = time.monotonic() - t0
    t0 = time.monotonic()
    with concurrent.futures.ThreadPoolExecutor(nproc) as ex:
        list(ex.map(one, range(nproc)))
    multi = time.monotonic() - t0
    return {"sha256_single_s": single, "sha256_all_threads_s": multi,
            "effective_cores": nproc * single / multi}


def source_id() -> dict:
    """git commit when the checkout is a repository, and always a sha256
    of the program's sources (the benchmark's checkout is not one)."""
    h = hashlib.sha256()
    files = sorted((ROOT / "wikdict_gen_spark").rglob("*.py"))
    for f in files + [ROOT / "__spark_entry__.py"]:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10,
                                check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def host_record(nproc: int) -> dict:
    import platform

    return {
        "nproc": nproc,
        "mem_total_kb": mem_total_kb(),
        "thp": _read("/sys/kernel/mm/transparent_hugepage/enabled", "n/a"),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "anchor": sha256_anchor(nproc),
        **source_id(),
    }


# --- process trees ---------------------------------------------------------------

def _stat(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return [raw[raw.index("(") + 1:raw.rindex(")")]] + raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> dict[int, list[str]]:
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            # st[1] state (Z: exited, waiting to be reaped), st[4] session
            if st and st[1] != "Z" and int(st[4]) == sid:
                out[int(pid)] = st
    return out


def _pss(pid: int, rss: int) -> int:
    """Proportional set size in bytes: forked Python workers share most of
    their pages, which a sum of RSS would count once per process."""
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


class TreeMonitor:
    """Samples, from /proc, every process in one session: the worker, its
    JVM and the JVM's Python workers (which move to their own process
    group, but stay in the session)."""

    def __init__(self, sid: int, interval: float = 0.2) -> None:
        self.sid = sid
        self.interval = interval
        self.cpu: dict[int, float] = {}
        self.kind: dict[int, str] = {}
        self.peak_mem = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        mem = 0
        for pid, st in session_pids(self.sid).items():
            # st[0] comm, st[12]/st[13] utime/stime, st[22] rss (pages)
            self.cpu[pid] = (int(st[12]) + int(st[13])) / CLK_TCK
            mem += _pss(pid, int(st[22]) * PAGE)
            self.kind[pid] = ("driver" if pid == self.sid else
                              "jvm" if st[0] == "java" else "python_worker")
        self.peak_mem = max(self.peak_mem, mem)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        by_kind: dict[str, float] = {}
        for pid, c in self.cpu.items():
            by_kind[self.kind[pid]] = by_kind.get(self.kind[pid], 0.0) + c
        return {"cpu_s": sum(self.cpu.values()), "cpu_by_kind": by_kind,
                "peak_rss_mb": self.peak_mem / 2**20}


def reap_session(sid: int, grace_s: float = 5.0) -> None:
    """Wait for every process of the session to end; kill what is left."""
    deadline = time.monotonic() + grace_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while session_pids(sid):
        time.sleep(0.05)


# --- one Spark process -------------------------------------------------------------

class Run:
    """One benchmark run: its work directory, environment and processes."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.base = ROOT / ".perfbench"
        self.work = self.base / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "tmp").mkdir(parents=True)
        self.nproc = len(os.sched_getaffinity(0))
        driver_mem = f"{max(1, int(mem_total_kb() * DRIVER_MEM_SHARE / 2**20))}g"
        self.config = {"SPARK_GRAFT_CPUS": str(self.nproc),
                       "SPARK_GRAFT_DRIVER_MEM": driver_mem}
        self.env = {
            **os.environ, **self.config,
            "SPARK_GRAFT_LOCAL_DIR": str(self.work / "local"),
            "TMPDIR": str(self.work / "tmp"),
            # keep the JVM's temp files and perf-data file in the work dir
            "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={self.work / 'tmp'} "
                                  "-XX:+PerfDisableSharedMem"),
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                               .split(os.pathsep) if p]),
        }
        self.procs: list[dict] = []

    def spark_process(self, name: str, phase: str, **spec) -> dict:
        """Run worker.py for one phase; returns its result with set-up time,
        CPU and peak RSS of its process tree, or ok=False and the reason."""
        result = self.work / f"{name}.json"
        spec.update(phase=phase, trace=self.trace, result=str(result),
                    eventlog_dir=str(self.work / "events"))
        (self.work / "events").mkdir(exist_ok=True)
        spec_path = self.work / f"{name}.spec.json"
        spec_path.write_text(json.dumps(spec))
        log = open(self.work / f"{name}.log", "wb")
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(spec_path)],
            cwd=self.work, env=self.env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        mon = TreeMonitor(proc.pid)
        rc = None
        try:
            rc = proc.wait(timeout=PHASE_TIMEOUT_S[phase])
        except subprocess.TimeoutExpired:
            pass
        finally:
            mon.sample()
            reap_session(proc.pid, grace_s=0 if rc is None else 5.0)
            proc.wait()
            log.close()
        out = json.loads(result.read_text()) if result.exists() else {}
        out.update(name=name, rc=rc, wall_s=time.monotonic() - t_spawn,
                   **mon.stop())
        if "ready" in out:
            out["setup_s"] = out["ready"] - t_spawn
        out["ok"] = bool(out.get("ok")) and rc == 0
        if not out["ok"]:
            out["error"] = self._failure(name, rc)
        self.procs.append(out)
        return out

    def _failure(self, name: str, rc: int | None) -> str:
        """Keep the JVM crash log (hs_err_pid*.log lands in the worker's
        cwd, the work dir) and the worker log tail beside the run records."""
        keep = self.base / "failures" / self.work.name
        keep.mkdir(parents=True, exist_ok=True)
        crash = [shutil.copy(p, keep) for p in self.work.glob("hs_err_pid*.log")]
        shutil.copy(self.work / f"{name}.log", keep)
        reason = "timeout" if rc is None else f"exit code {rc}"
        return (f"{name}: {reason}; log {keep / (name + '.log')}"
                + (f"; JVM crash log {crash[0]}" if crash else ""))

    def totals(self) -> dict:
        setups = [p["setup_s"] for p in self.procs if "setup_s" in p]
        return {"cpu_s": sum(p["cpu_s"] for p in self.procs),
                "peak_rss_mb": max(p["peak_rss_mb"] for p in self.procs),
                "setup_s": statistics.median(setups or [0.0])}

    def per_layer(self, given: dict) -> tuple[dict, dict]:
        spans = [s for p in self.procs for s in p.get("spans", [])]
        folded = eventlog.fold_dir(self.work / "events")
        python_cpu = sum(p["cpu_by_kind"].get("python_worker", 0.0)
                         for p in self.procs)
        given = {"session.wall_s": self.totals()["setup_s"],
                 "jvm.rss_peak_mb": self.totals()["peak_rss_mb"],
                 "functions.spark_udfs.cpu_s": python_cpu, **given}
        metrics = eventlog.layer_metrics(folded, spans, given)
        attribution = eventlog.attribution(
            folded, {"operators.extract": python_cpu * 1000})
        groups = {g or "(none)": {"tasks": a.tasks, "jobs": a.jobs,
                                  "cpu_s": a.cpu_ns / 1e9,
                                  "run_s": a.run_ms / 1e3,
                                  "gc_s": a.gc_ms / 1e3,
                                  "shuffle_bytes": a.shuffle_write,
                                  "spill_bytes": a.spill_disk,
                                  "peak_mem_mb": a.peak_mem / 2**20,
                                  "task_skew": a.skew() if a.tasks else 0.0}
                  for g, a in folded["groups"].items()}
        return metrics, {"attribution": attribution, "groups": groups}


# --- workloads -------------------------------------------------------------------

def kg_build(run: Run) -> dict:
    """A checkpointed build stopped after all_trans, its resume, and a
    fused build of both KG tables, in one process; the resumed and fused
    outputs are checked against each other."""
    from wikdict_gen_spark.fixtures import build_bench_corpus

    corpus = build_bench_corpus(run.work / "corpus", n_concepts=KG_CONCEPTS,
                                seed=run.seed, workers=run.nproc)
    fused_out, ckpt = run.work / "fused_out", run.work / "ckpt"
    p = run.spark_process("kg", "kg", pages=corpus, workdir=str(run.work),
                          fused_out=str(fused_out), ckpt=str(ckpt))
    ops = {"checkpointed build": "prefix_s" in p, "resume": "resume_s" in p,
           "fused build": p["ok"]}
    detail: dict = {"concepts": KG_CONCEPTS, "prefix_s": p.get("prefix_s")}
    if p["ok"]:
        after = {q.parent.name: q.stat().st_mtime_ns
                 for q in ckpt.glob("*/_COMMITTED")}
        checks = {
            "resume_kept_committed_stages": all(
                after.get(k) == v for k, v in p["prefix_commits"].items()),
            "all_committed": {"kg_edges", "kg_nodes"} <= set(after),
        }
        want = _expected_digests().get(f"{KG_CONCEPTS}:{run.seed}", {})
        for t in ("kg_edges", "kg_nodes"):
            fused_d = inputs.table_digest(str(fused_out / t))
            detail[t] = fused_d
            checks[f"{t}_fused_eq_checkpointed"] = (
                fused_d == inputs.table_digest(str(ckpt / t)))
            checks[f"{t}_nonempty"] = fused_d["rows"] > 0
            if t in want:
                checks[f"{t}_eq_recorded"] = want[t] == fused_d["digest"]
        detail["checks"] = checks
        if not all(checks.values()):
            ops = dict.fromkeys(ops, False)
    detail["triples"] = detail.get("kg_edges", {}).get("rows", 0)
    if run.trace:
        counts = p.get("counts", {})
        given = {"functions.spark_udfs.rows_out": counts.get("extracted", 0),
                 "operators.extract.rows_out": counts.get("records", 0),
                 "catalog.files_written": sum(1 for _ in ckpt.rglob("*.parquet"))}
        return _result(run, ops, detail, trace=given)
    fused_s, resume_s = p.get("fused_s", 0.0), p.get("resume_s", 0.0)
    detail["triples_per_s"] = detail["triples"] / fused_s if fused_s else 0.0
    detail["resume_s"] = resume_s
    # work_s spans both warm builds: a burst of host contention of a few
    # seconds then moves it by half as much as it moves a single build
    return _result(run, ops, detail, work_s=resume_s + fused_s)


def contract_queries(run: Run) -> dict:
    """The 18 headline queries in a seed-permuted order, one round, each
    result collected and checked against the DuckDB oracle."""
    from worker import HEADLINE

    tables = inputs.contract_tables(run.work / "tables")
    order = list(HEADLINE)
    random.Random(run.seed).shuffle(order)
    p = run.spark_process("queries", "contract", tables=tables, order=order)
    digests = p.get("digests", {})
    query_s = p.get("query_s", {})
    sql = {q: text for q, text in p.get("oracle_sql", {}).items()
           if q in HEADLINE}
    want = _oracle(run, tables, sql)
    if "q_minhash_signature" in want:
        want["q_minhash_compact"] = {
            "rows": want["q_minhash_signature"]["rows"]}
    bad = sorted(q for q in HEADLINE
                 if q not in digests or q not in want
                 or any(digests[q][k] != v for k, v in want[q].items()))
    # one operation per query run
    ops = {"ops": (len(HEADLINE), len(HEADLINE) if not p["ok"] else len(bad))}
    detail = {"order": order, "wrong_outputs": bad, "query_s": query_s,
              "query_total_s": sum(query_s.values())}
    if run.trace:
        return _result(run, ops, detail, trace={
            f"query.{q}.wall_s": w for q, w in query_s.items()})
    return _result(run, ops, detail, work_s=detail["query_total_s"])


def _oracle(run: Run, tables: str, sql: dict[str, str]) -> dict:
    """DuckDB oracle digests, cached in .perfbench/ by the hash of the
    tables and the SQL: the contract data does not depend on the seed."""
    h = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    for t in inputs.CONTRACT_TABLES:
        h.update((Path(tables) / f"{t}.parquet").read_bytes())
    cache = run.base / f"oracle-{h.hexdigest()[:16]}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    want = inputs.oracle_digests(tables, sql)
    cache.write_text(json.dumps(want))
    return want


def _expected_digests() -> dict:
    path = HERE / "expected_digests.json"
    return json.loads(path.read_text()) if path.exists() else {}


def _result(run: Run, ops: dict, detail: dict, trace: dict | None = None,
            **end_to_end) -> dict:
    if "ops" in ops:
        attempted, failed = ops["ops"]
    else:
        attempted, failed = len(ops), sum(1 for ok in ops.values() if not ok)
    record = {"workload": run.workload, "seed": run.seed,
              "seconds": run.seconds, "trace": run.trace,
              "config": run.config, "detail": detail,
              "processes": [{k: v for k, v in p.items() if k != "spans"}
                            for p in run.procs]}
    if trace is not None:
        metrics, extra = run.per_layer(trace)
        record.update(extra)
        units = {n: eventlog.unit_of(n) for n in metrics}
    else:
        metrics = {**run.totals(), **end_to_end}
        units = END_TO_END
    record["metrics"] = metrics
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in (eventlog.per_layer_names() if trace is not None
                                  else END_TO_END)},
            "record": record}


# --- main --------------------------------------------------------------------------

def run_one(workload: str, seed: int, seconds: int, trace: bool,
            host: dict) -> dict:
    t0 = time.monotonic()
    run = Run(workload, seed, seconds, trace)
    res = {"kg_build": kg_build, "contract_queries": contract_queries}[
        workload](run)
    rec = res.pop("record")
    rec["host"] = host
    rec["run_wall_s"] = time.monotonic() - t0
    rec["failed_ratio"] = res["failed"] / res["attempted"]
    rec["errors"] = [p["error"] for p in run.procs if p.get("error")]
    _save(run, rec)
    shutil.rmtree(run.work, ignore_errors=True)
    return {**res, "record": rec}


def _save(run: Run, rec: dict) -> None:
    """Write the run record; a traced run also writes the workload's trace
    JSON, with the tracing overhead against the last untraced run."""
    base = run.base
    name = f"{run.workload}-s{run.seed}-{'trace' if run.trace else 'e2e'}.json"
    (base / "records").mkdir(parents=True, exist_ok=True)
    last = base / f"last_untraced_{run.workload}.json"
    spans_total = sum(p.get("fused_s", 0) + p.get("prefix_s", 0)
                      + p.get("resume_s", 0) for p in rec["processes"])
    if run.workload == "contract_queries":
        spans_total = rec["detail"]["query_total_s"]
    if run.trace:
        rec["traced_total_s"] = spans_total
        if last.exists():
            untraced = json.loads(last.read_text())["total_s"]
            rec["tracing_overhead_s"] = spans_total - untraced
        (base / f"trace_{run.workload}.json").write_text(
            json.dumps(rec, indent=1, default=str))
    else:
        last.write_text(json.dumps({"seed": run.seed, "total_s": spans_total}))
    (base / "records" / name).write_text(json.dumps(rec, indent=1, default=str))


def _print_summary(workload: str, res: dict) -> None:
    rec = res["record"]
    print(f"== {workload} seed={rec['seed']} trace={int(rec['trace'])} "
          f"correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']}")
    for name, m in res["metrics"].items():
        if not rec["trace"] or m["value"]:
            print(f"  {name:44s} {m['value']:14.4f} {m['unit']}")
    d = rec["detail"]
    if not rec["trace"]:
        print(f"  {'peak_rss_mb':44s} {rec['metrics']['peak_rss_mb']:14.4f} MB")
        if workload == "kg_build":
            print(f"  {'triples_per_s':44s} {d['triples_per_s']:14.4f} 1/s")
            print(f"  {'resume_s':44s} {d['resume_s']:14.4f} s")
        else:
            print(f"  {'query_total_s':44s} {d['query_total_s']:14.4f} s")
    print(f"  {'failed_ratio':44s} {rec['failed_ratio']:14.4f} ratio")
    if rec["trace"]:
        att = rec["attribution"]
        print(f"  cpu attributed to layers: {att['cpu_attributed_share']:.3f} "
              f"of {att['cpu_total_s']:.2f} s; top 3: " + ", ".join(
                  f"{t['layer']} {t['cpu_s']:.2f}s ({t['dominant']})"
                  for t in att["top3"]))
        if "tracing_overhead_s" in rec:
            print(f"  tracing overhead: {rec['tracing_overhead_s']:.3f} s")
    for e in rec["errors"]:
        print(f"  FAILED {e}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25,
                    help="recorded with the run; the work per run is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "wikdict_gen_spark").is_dir():
        print(f"perfbench: no program to measure: {ROOT / 'wikdict_gen_spark'} "
              "is missing", file=sys.stderr)
        return 2
    host = host_record(len(os.sched_getaffinity(0)))
    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for w in workloads:
        results[w] = run_one(w, args.seed, args.seconds, bool(args.trace), host)
        _print_summary(w, results[w])
    if args.workload != "all":
        res = results[args.workload]
        print(json.dumps({k: res[k] for k in
                          ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
