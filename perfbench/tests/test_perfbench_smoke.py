"""End-to-end smoke of ``perfbench/run.py`` on sf0.001 tables.

Every workload runs once untraced and once traced; each must print every
metric ``BENCHMARK.json`` names, with its unit, and pass its oracle checks.
A second traced run with the same seed must repeat the work counts
exactly, codegen compiles within 3%.  About five minutes on a 4-core host.

Run:  python3 -m pytest perfbench/tests/test_perfbench_smoke.py
"""

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

import workloads

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)

#: work counts that depend only on the plans, not on timing or GC
WORK_COUNTS = (
    "sources.load_calls",
    "sources.load_jobs",
    "build.jobs",
    "build.stages",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "cache.pins",
    "stage.calls",
)
#: codegen compiles are not exactly repeatable: dedup_simhash's count read
#: 27, 29, 29 and 30 in four traced sf0.1 runs; every other query's repeated
CODEGEN_REL_TOL = 0.03


def run(workload: str, trace: int, seed: int = 1, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, *BENCHMARK["command"][1:], "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", "1", "--trace", str(trace), "--scale", "0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_lists_every_workload():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_every_named_metric_prints_with_its_unit(workload, trace):
    out = result(run(workload, trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] == len(workloads.WORKLOADS[workload].queries)
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {k: v["unit"] for k, v in out["metrics"].items()}
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float) and math.isfinite(m["value"]), name


def test_traced_work_counts_repeat_for_the_same_seed():
    a, b = (result(run("dedup_chain_cold", 1, seed=5))["metrics"] for _ in range(2))
    assert {k: a[k]["value"] for k in WORK_COUNTS} == {k: b[k]["value"] for k in WORK_COUNTS}
    ca, cb = a["codegen.compiles"]["value"], b["codegen.compiles"]["value"]
    assert abs(ca - cb) <= CODEGEN_REL_TOL * max(ca, cb)


def test_fails_without_the_engine(tmp_path):
    """Beside only BENCHMARK.json and the benchmark's own files, a run
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCHMARK["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            tmp_path / path,
            ignore=shutil.ignore_patterns(".run", ".records", "__pycache__"),
        )
    proc = run("short_relational", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
