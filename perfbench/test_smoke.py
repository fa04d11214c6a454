"""Tiny-scale smoke test of the benchmark's output contract.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json once untraced and once traced, at
the benchmark's own input size with a one-second measuring window, and
checks that the last stdout line is the contract's JSON object with
exactly the declared metrics, that the Python worker start time of a
traced span stays within its tasks' run time, that the run left the git
tree as it found it, and that a directory holding only the benchmark
files (no engine) fails fast without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _git_status() -> str | None:
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                              text=True, check=True, timeout=60).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3",
                             "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_output_contract(workload, trace):
    before = _git_status()
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, proc.stderr[-3000:]
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        values = {k: v["value"] for k, v in out["metrics"].items()}
        for name, boot in values.items():
            if name.endswith(".python_boot_s"):
                assert boot <= values[name.replace("python_boot_s", "task_run_s")], name
        assert values["trace.span_coverage"] >= 0.9
    assert _git_status() == before


def test_fails_fast_without_engine():
    bare = os.path.join(ROOT, ".perfbench_work", "smoke_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, SPEC["workloads"][0]["name"], 0)
        assert proc.returncode != 0
        assert proc.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
