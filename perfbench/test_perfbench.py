"""Self-tests of the benchmark at tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Each test runs ``run.py`` in a subprocess, as the benchmark is run, and
reads the JSON on the last line of its stdout. A tiny run takes about a
minute (most of it Spark start-up).
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def _run(workload: str, *extra: str, trace: int = 0,
         cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--scale", "0.02", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return proc.returncode, result, proc.stderr[-3000:]


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_metric_and_no_failure(workload):
    code, result, err = _run(workload)
    assert code == 0, err
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["failed"] == 0 and result["correct"], err
    for name, metric in result["metrics"].items():
        assert metric["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_per_layer_metric(workload):
    code, result, err = _run(workload, trace=1)
    assert code == 0, err
    _assert_metrics(result, SPEC["per_layer"])
    assert result["failed"] == 0, err
    assert result["metrics"]["checkpoint.resume_docs"]["value"] == 0
    spans = os.path.join(ROOT, ".perfbench_work", "trace",
                         f"{workload}_s3.jsonl")
    with open(spans) as fh:
        names = {json.loads(line)["name"] for line in fh}
    assert {"setup", "pass", "pipeline.skew",
            "checkpoint.write"} <= names


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_row_is_counted_as_failure(workload):
    code, result, err = _run(workload, "--corrupt")
    assert code == 0, err
    assert result["failed"] > 0 and not result["correct"]


def test_without_the_engine_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
