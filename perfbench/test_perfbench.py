"""Self-test of the benchmark. From the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Runs every workload once on a toy seeded dataset, untraced and traced,
and checks the result line against BENCHMARK.json; also checks the
run's refusal outside a checkout and the accounting of a query missing
from the registry. Takes a few minutes (one Spark session per run).
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
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_toy_run_reports_every_metric(workload, trace):
    proc = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001",
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["failed"] == 0 and out["correct"] is True, proc.stderr[-4000:]
    assert out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if trace:
            assert got["value"] >= 0, m["name"]
        else:
            assert got["value"] > 0, m["name"]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(
        tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
        "--seconds", "1", "--trace", "0", timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_query_missing_from_registry_counts_as_failed():
    import run

    results = run.run_pass(None, {}, ["q_not_registered"], "unused")
    assert len(results) == 1
    assert "missing" in results[0]["error"]
    assert not run.passed(results[0])
