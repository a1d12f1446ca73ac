"""Fast smoke test of the benchmark at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Runs each workload once, traced, at `--scale tiny` (a few minutes in
all, one Spark JVM at a time), plus one untraced run, and checks the
result contract: every metric named in BENCHMARK.json appears with its
unit, every correctness check ran and passed, and the results file
holds the untraced figures and the tracing overhead. It also checks
that the benchmark fails cleanly where the package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
E2E = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
#: correctness checks per loop step: cdc rounds check dt counts and the
#: merged snapshot, corpus chains check three outputs
CHECKS_PER_STEP = {"cdc": 2, "corpus": 3}


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc, (json.loads(lines[-1]) if proc.returncode == 0 else {})


def _results_file(proc: subprocess.CompletedProcess) -> dict:
    path = next(line.split(" ", 2)[2] for line in proc.stdout.splitlines()
                if line.startswith("perfbench: results "))
    with open(path) as f:
        return json.load(f)


def _assert_metrics(metrics: dict, names: dict) -> None:
    assert set(metrics) == set(names)
    for name, unit in names.items():
        assert metrics[name]["unit"] == unit, name
        assert isinstance(metrics[name]["value"], (int, float)), name


@pytest.mark.parametrize("workload", ["cdc", "corpus"])
def test_traced_run_reports_every_metric_and_passes_checks(workload):
    proc, out = _run(workload, 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    _assert_metrics(out["metrics"], LAYER)
    res = _results_file(proc)
    assert set(res["end_to_end"]) == set(E2E)
    assert set(res["tracing_overhead"]) == set(E2E) - {"setup_s"}
    assert all(v > 0 for v in res["end_to_end"].values())
    # both loops were checked: untraced and traced
    assert out["attempted"] >= 2 * CHECKS_PER_STEP[workload]
    # the layers' job and driver times account for the traced steps
    assert 0.9 <= res["accounted_share"] <= 1.1, res["accounted_share"]
    if workload == "corpus":
        # the similarity probe's two searches were checked for recall
        assert len(res["checked"]["recall_at_k"]) == 2


def test_untraced_run_reports_end_to_end_metrics():
    proc, out = _run("cdc", 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert out["correct"] is True and out["attempted"] >= 2
    _assert_metrics(out["metrics"], E2E)
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, _ = _run("cdc", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
