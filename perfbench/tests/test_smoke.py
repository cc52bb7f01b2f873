"""Tiny-size runs of every workload through the command BENCHMARK.json
names (a few minutes in all: each run starts its own Spark session)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import config
import report

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
# Job, stage and task counts per call. A point read's tasks are left out:
# they follow the files it lists, and whether the apply running beside it
# has committed its file yet is a matter of timing.
COUNTS = [n for n, u, _ in report.PER_LAYER
          if n.endswith(("jobs_per_call", "stages_per_call",
                         "tasks_per_call"))
          and n != "engine.read.tasks_per_call"]


def _run(workload, trace, seed=5, seconds=3, size="tiny", cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--size", size],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(p):
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    return res


@pytest.mark.parametrize("workload", config.WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = _result(_run(workload, 0))
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        report.END_TO_END_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_repeats_its_spark_work_exactly():
    """Two traced runs of one seed issue the same jobs, stages and tasks
    per call, and every layer serve_under_write drives is counted. This
    runs the full size BENCHMARK.json runs (about three minutes): the
    per-call counts are medians over the window, and the smoke size's
    short window and frequent ``ADD COLUMN`` let a median flip (a read
    just after one costs a job more)."""
    a = _result(_run("serve_under_write", 1, seconds=10,
                     size="full"))["metrics"]
    b = _result(_run("serve_under_write", 1, seconds=10,
                     size="full"))["metrics"]
    assert {k: v["unit"] for k, v in a.items()} == report.PER_LAYER_UNITS
    assert {k: a[k]["value"] for k in COUNTS} == \
        {k: b[k]["value"] for k in COUNTS}
    for k in ("engine.apply.jobs_per_call", "engine.ddl.jobs_per_call",
              "engine.read.jobs_per_call", "optimizer.compact.jobs_per_call",
              "indexmaint.apply_jobs_per_call",
              "retrieval.probe_jobs_per_call", "engine.snapshot.jobs"):
        assert a[k]["value"] > 0, k
    assert os.path.exists(os.path.join(
        ROOT, ".perfbench", "traces", "serve_under_write-seed5.json"))


def test_refuses_to_run_without_the_replicator(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("cdc_trickle", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
