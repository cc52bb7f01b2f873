"""The replicator benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md). The line before it holds diagnostics. The exit code is
1 when the replica fails its correctness gate and 2 when the benchmark
cannot run at all (no replicator package beside it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from config import SETUP_REPS, WORKLOADS, workload_config  # noqa: E402


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the smoke size of the benchmark's own tests")
    return p.parse_args(argv)


def task_slots() -> int:
    """One core fewer than the host offers: the main Python process and
    the generator keep one."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def make_session(work: str, slots: int):
    from mysql_ch_replicator_spark.plans.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench", master=f"local[{slots}]",
        extra_conf={
            # a pinned heap: 1.5 GB, committed up front, with a fixed
            # young generation, so the collector neither grows the heap
            # nor resizes the young generation from run to run. The heap
            # is not pre-touched: peak RSS counts only the pages the
            # program's allocations reach. No perf-data file in the
            # system's /tmp
            "spark.driver.memory": "1536m",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms1536m -Xmn256m "
                "-XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every micro-batch's progress and every job's status
            "spark.sql.streaming.numRecentProgressUpdates": "1000000",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })


def stop_session(spark) -> None:
    """Stop Spark and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - must not leave it running
            proc.kill()
            proc.wait()


def run_pass(spark, work, name, workload, cfg, seed, seconds, tracer,
             seed_paths, reps):
    from workloads import Pass
    p = Pass(spark, os.path.join(work, name), workload, cfg, seed, seconds,
             tracer, seed_paths, setup_reps=reps)
    return p.run()


def add_file_spans(tracer, out) -> None:
    """One span per committed event file, from its creation to the
    return of the apply that committed it, under that apply's span."""
    import report
    for f in report.PassView(out).files:
        tracer.add("cdc.file", f["created"], f["commit_end"],
                   trace=f["file"], parent=out["commits"][f["commit"]]["span"],
                   events=f["events"])


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import mysql_ch_replicator_spark.engine  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the replicator from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import procstat
    import report
    from tracing import NullTracer, Tracer
    from workloads import write_seed_tables

    cfg = workload_config(a.workload, a.size)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir
    host0 = procstat.host_regime()
    spark = None
    try:
        # the seed tables are written while the JVM starts
        with ThreadPoolExecutor(max_workers=1) as pool:
            seeds = pool.submit(write_seed_tables, a.seed, cfg,
                                os.path.join(work, "seed"))
            t0 = time.monotonic()
            spark = make_session(work, task_slots())
            session_s = time.monotonic() - t0
            seed_paths = seeds.result()
        outs = []
        if not a.trace:
            out = run_pass(spark, work, "pass", a.workload, cfg, a.seed,
                           a.seconds, NullTracer(), seed_paths, SETUP_REPS)
            outs.append(out)
            metrics = report.end_to_end(out, cfg["min_beyond"])
            units = report.END_TO_END_UNITS
        else:
            tr = Tracer(spark)
            traced = run_pass(spark, work, "traced", a.workload, cfg, a.seed,
                              a.seconds, tr, seed_paths, SETUP_REPS)
            tr.resolve()
            add_file_spans(tr, traced)
            stop_session(spark)
            # the same pass again with one task slot
            spark = make_session(work, 1)
            tr1 = Tracer(spark)
            one = run_pass(spark, work, "one_slot", a.workload, cfg, a.seed,
                           a.seconds, tr1, seed_paths, 1)
            tr1.resolve()
            add_file_spans(tr1, one)
            outs = [traced, one]
            metrics = report.per_layer(
                report.layers(traced, tr),
                report.end_to_end(traced, cfg["min_beyond"]), tr,
                report.layers(one, tr1))
            units = report.PER_LAYER_UNITS
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tr.dump(os.path.join(base, "traces",
                                 f"{a.workload}-seed{a.seed}.json"))
            tr1.dump(os.path.join(base, "traces",
                                  f"{a.workload}-seed{a.seed}-1slot.json"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    outs[0]["session_start_s"] = session_s
    outs[0]["host"] = {"start": host0, "end": procstat.host_regime()}
    print(json.dumps({"diagnostics": report.diagnostics(outs[0])},
                     default=str))
    correct = all(o["correct"] for o in outs)
    # an event file of the window that no apply committed is a failed
    # delivery
    views = [report.PassView(o) for o in outs]
    print(json.dumps({
        "correct": correct,
        "attempted": sum(o["attempted"] + v.expected
                         for o, v in zip(outs, views)),
        "failed": sum(o["failed"] + v.missing for o, v in zip(outs, views)),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
