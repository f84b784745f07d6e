"""Smoke test of the benchmark itself: a tiny fixture through every
workload, untraced and traced, checking that every metric BENCHMARK.json
names is printed and that a wrong expectation shows up as failed
iterations.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session (about a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
ALL_WORKLOADS = ("reimport_encrypted", "bulk_import", "many_small_files", "catalog_mix")


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """(result record, info record) of one tiny run."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["info"]


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    for spec in specs:
        metric = result["metrics"][spec["name"]]
        assert metric["unit"] == spec["unit"], spec["name"]
        assert isinstance(metric["value"], (int, float)), spec["name"]
    assert set(result["metrics"]) == {s["name"] for s in specs}


def test_spec_lists_the_benchmark_workloads():
    names = [w["name"] for w in SPEC["workloads"]]
    assert set(names) <= set(ALL_WORKLOADS)


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result, info = _run(workload, 0)
    assert info["failed_frac"] == 0.0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    _assert_metrics(result, SPEC["end_to_end"])


@pytest.mark.parametrize("workload", ("reimport_encrypted", "catalog_mix"))
def test_traced_run_prints_every_per_layer_metric(workload):
    result, _ = _run(workload, 1)
    assert result["correct"] and result["failed"] == 0
    _assert_metrics(result, SPEC["per_layer"])


@pytest.mark.parametrize("workload", ("reimport_encrypted", "catalog_mix"))
def test_wrong_expectation_counts_as_failed(workload):
    result, info = _run(workload, 0, "--wrong-expectation")
    assert not result["correct"]
    # every measured iteration and the warm-up fail their check
    assert result["failed"] == result["attempted"] >= 2
    assert info["failed_frac"] == 1.0


def test_refuses_to_run_without_the_program():
    bare = ROOT / ".perfbench_work" / "bare"  # only BENCHMARK.json and perfbench/
    shutil.rmtree(bare, ignore_errors=True)
    (bare / "perfbench").mkdir(parents=True)
    for f in (ROOT / "perfbench").glob("*.py"):
        (bare / "perfbench" / f.name).write_text(f.read_text())
    (bare / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
