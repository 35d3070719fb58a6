"""Smoke test of the benchmark itself, at tiny sizes.

  python3 -m pytest perfbench/test_smoke.py -q

For every workload: an untraced run prints each end-to-end metric of
BENCHMARK.json with its unit and passes its correctness checks; a traced
run with a corrupted expected value prints each per-layer metric with
its unit and fails its correctness check. A copy holding only
BENCHMARK.json and perfbench/ must exit non-zero without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("live_alerts", "resident_state", "batch_replay")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(workload: str, trace: int, cwd: str = ROOT, corrupt: bool = False):
    env = dict(os.environ)
    env.pop("PERFBENCH_CORRUPT", None)
    if corrupt:
        env["PERFBENCH_CORRUPT"] = "1"
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    return res


def _assert_metrics(res: dict, spec: list[dict]) -> None:
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_checks_pass(workload):
    res = _result(_run(workload, trace=0))
    _assert_metrics(res, BENCH["end_to_end"])
    assert res["correct"] is True
    assert res["failed"] == 0
    for m in BENCH["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_metrics_and_corrupted_expectation_fails(workload):
    res = _result(_run(workload, trace=1, corrupt=True))
    _assert_metrics(res, BENCH["per_layer"])
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run("live_alerts", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    assert '"metrics"' not in last
