"""End-to-end smoke runs of the benchmark command.

Each workload runs traced (``--trace 1``) on its full input with one second
of timed runs (at least three runs).  A traced run also runs the untraced
loop, so every run goes through the correctness gate twice and emits both
metric sets.  Takes several minutes: each workload starts its JVM twice.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SEED = 101

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd, *args, timeout=600):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, env=env, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.spark
@pytest.mark.parametrize("workload",
                         ["corpus", "adversarial", "resume_write", "curate"])
def test_tiny_run_passes_the_gate_and_emits_every_metric(workload):
    proc = _run(ROOT, "--workload", workload, "--seed", str(SEED),
                "--seconds", "1", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed{SEED}-trace1.json")) as f:
        report = json.load(f)
    assert set(report["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in report["end_to_end"].values())
    layer = report["per_layer"]
    assert layer["job.count"] >= 1 and layer["job.busy_s"] > 0
    assert layer["udf.py_run_s"] > 0
    if workload == "resume_write":
        assert layer["sink.write_s"] > 0 and layer["sink.manifest_s"] > 0
        assert layer["resume.pending_share"] == pytest.approx(0.5, abs=0.05)
    if workload == "curate":
        assert layer["curate.call_s"] > 0 and layer["curate.report_s"] > 0
    if workload == "adversarial":
        assert layer["shape.whale.rows"] > 0 and layer["shape.nav_wall.rows"] > 0
    assert not os.listdir(os.path.join(ROOT, ".perfbench_work")) or all(
        not d.startswith(f"{workload}-{SEED}-")
        for d in os.listdir(os.path.join(ROOT, ".perfbench_work")))


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(tmp_path, "--workload", "corpus", "--seed", "1",
                "--seconds", "1", "--trace", "0", timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
