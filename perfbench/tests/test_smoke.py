"""Each workload once at its smallest input, untraced and traced.

Starts real Spark processes (about a minute per case on 4 vCPUs).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402


@pytest.mark.parametrize("trace", [False, True], ids=["e2e", "trace"])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke(workload, trace, monkeypatch):
    monkeypatch.setattr(run, "KG_CONCEPTS", 60)
    res = run.run_one(workload, seed=0, seconds=1, trace=trace,
                      host={"nproc": 0})
    rec = res["record"]
    assert rec["errors"] == []
    assert res["failed"] == 0 and rec["failed_ratio"] == 0.0
    assert res["correct"] and res["attempted"] >= 3
    metrics = {k: m["value"] for k, m in res["metrics"].items()}
    if trace:
        assert metrics["trace.cpu_attributed_share"] >= 0.9
        assert metrics["session.wall_s"] > 0
    else:
        assert set(metrics) == set(run.END_TO_END)
        assert all(v > 0 for v in metrics.values())


def test_jvm_launch_failure_is_recorded(monkeypatch):
    # a driver heap four times the host's RAM: the JVM cannot commit its
    # pre-touched -Xms and exits at launch with an hs_err_pid*.log
    monkeypatch.setattr(run, "DRIVER_MEM_SHARE", 4.0)
    before = set(run.ROOT.glob("hs_err_pid*.log"))
    res = run.run_one("contract_queries", seed=0, seconds=1, trace=False,
                      host={"nproc": 0})
    assert not res["correct"] and res["failed"] == res["attempted"]
    (error,) = res["record"]["errors"]
    assert "JVM crash log" in error and "hs_err_pid" in error
    assert set(run.ROOT.glob("hs_err_pid*.log")) == before
