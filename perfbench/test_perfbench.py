"""The benchmark's own test: a one-second run of every workload prints every
metric BENCHMARK.json names, each with its unit; a planted wrong truth
value is counted as a failure; and a checkout without the package makes
the benchmark fail without printing a result.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark JVM, so the module takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _bench(cwd: str, workload: str, *extra: str):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(workload: str, trace: int, *extra: str) -> dict:
    out = _bench(ROOT, workload, "--trace", str(trace), *extra)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_its_unit(workload, trace):
    result = _result(workload, trace)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_truth_counts_as_failure(workload):
    result = _result(workload, 0, "--plant-wrong-truth")
    assert not result["correct"]
    assert result["failed"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(str(tmp_path), WORKLOADS[0], "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
