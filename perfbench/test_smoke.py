"""Smoke test of the benchmark: every workload once at tiny size.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Checks the output contract (every metric printed with its unit, a valid
last JSON line, a clean correctness gate), that a traced run reports every
per-layer metric, and that the benchmark refuses to run without the engine.
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

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _check(proc: subprocess.CompletedProcess, spec: list[dict]) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float | int)
        assert f"{m['name']} = " in proc.stdout and f" {m['unit']}\n" in proc.stdout
    return result


def test_spec_matches_metric_tables():
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} \
        == run.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} == set(run.SIZES)


@pytest.mark.parametrize("workload", sorted(run.SIZES))
def test_workload_smoke(workload):
    _check(_bench("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", "0", "--smoke"), SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_smoke(workload):
    _check(_bench("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", "1", "--smoke"), SPEC["per_layer"])


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "batch_minhash", "--seed", "1", "--seconds",
                  "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_tail_percentile():
    assert run.tail([3.0])[0] == 3.0
    value, label = run.tail([float(i) for i in range(1, 21)])
    assert value == 10.0 and label.startswith("p50 of 20")
    assert run.tail([1.0, 2.0, 3.0, 4.0, 5.0])[0] == 4.0


def test_cluster_pair_scores():
    group_of = {"a": 1, "b": 1, "c": 1, "d": 2}
    assert workloads.cluster_pair_scores(
        {"a": 0, "b": 0, "c": 0, "d": 9}, group_of) == (1.0, 1.0)
    # c split off: 1 of 3 golden pairs kept; everything predicted is right
    assert workloads.cluster_pair_scores(
        {"a": 0, "b": 0, "c": 5, "d": 9}, group_of) == (1 / 3, 1.0)
    # d merged in: all golden pairs kept; 3 of 6 predicted pairs are right
    assert workloads.cluster_pair_scores(
        {"a": 0, "b": 0, "c": 0, "d": 0}, group_of) == (1.0, 0.5)
