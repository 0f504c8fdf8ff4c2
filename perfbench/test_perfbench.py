"""The benchmark's own tests: a minimal-size smoke run of every workload,
and an exact-repeat check of the counts a later change may cite.

Run from the repository root:  python3 -m pytest perfbench/test_perfbench.py -q
Each case starts its own Spark session in a subprocess (a few minutes in
total).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("geo_write_sync", "analytics_suite")
# timed loop steps covering every op kind: geo rounds up to a maintenance
# cycle, suite passes
STEPS = {"geo_write_sync": 5, "analytics_suite": 2}
# counts that must repeat exactly between two traced runs with one seed
REPEATABLE = (
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "lake.table.manifest_entries",
    "lake.table.zero_row_files",
    "spark.jobs_per_commit",
    "spark.jobs_per_sync",
    "lake.table.meta_bytes_per_commit",
    "lake.replication.files_copied",
)


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, seed: int, trace: int, steps: int) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", "0.1", "--steps", str(steps)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_end_to_end(workload):
    result, report = _run(workload, seed=7, trace=0, steps=STEPS[workload])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _contract()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert any("error_rate = 0" in line for line in report)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat(workload):
    first, report = _run(workload, seed=3, trace=1, steps=STEPS[workload])
    second, _ = _run(workload, seed=3, trace=1, steps=STEPS[workload])
    want = {m["name"]: m["unit"] for m in _contract()["per_layer"]}
    assert {k: v["unit"] for k, v in first["metrics"].items()} == want
    assert first["correct"] and second["correct"]
    for key in REPEATABLE:
        assert first["metrics"][key]["value"] == second["metrics"][key]["value"], key
    assert any("self time per op" in line for line in report)


def test_refuses_without_package(tmp_path):
    """Outside a checkout of the package the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for fn in os.listdir(HERE):
        if fn.endswith(".py"):
            (bench / fn).write_bytes(open(os.path.join(HERE, fn), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "geo_write_sync", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
