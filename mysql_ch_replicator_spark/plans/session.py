"""SparkSession construction tuned for the engine.

Settings rationale (scale-first; see SURVEY.md §4):

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting means
  the same plan works at sf0.001 locally and at 100 TB on a 1000-executor
  cluster without retuning ``spark.sql.shuffle.partitions`` by hand.
- Cached frames: ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
  on. Spark 4.1 defaults it off, and then AQE must keep a persisted
  frame's output partitioning, so every ``persist``/``transient_persist``
  of a ``groupBy`` or join output holds all 32 shuffle partitions and each
  stage that reads it runs 32 tasks whatever the data size (the lexical
  index build and upsert have five such frames). With it on, a traced
  ``serve_under_write`` index upsert runs the same 23 jobs in 34 tasks
  instead of 313, and that workload's peak RSS fell from 1575 to 1374 MB
  (medians of 10 interleaved pairs on a 4-core host; README "Cached
  frames and task fan-out").
- Arrow on: every Pandas-UDF boundary (WKB parse, multimodal decode) moves
  columnar Arrow batches instead of pickled rows.
- Session timezone pinned to UTC: MySQL ``timestamp`` semantics are
  "wall-clock in a configured zone" (reference mysql_api.py:144–154); we pin
  the session zone so conversions are explicit, not host-dependent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the partitions of a persisted frame (module
    # docstring: cached frames).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast threshold: small dims (region/nation/supplier and any
    # table < 64 MB) get broadcast-hash-joined — no shuffle of the fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Local testing default; AQE coalesces down when partitions are tiny.
    # On a real cluster this is set per-deploy (rule of thumb: 2–3× cores).
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Parquet pushdown/pruning is on by default; pin it explicitly — the
    # engine depends on it (SURVEY.md §4 predicate-pushdown row).
    # Parquet timestamps without isAdjustedToUTC would otherwise infer as
    # TIMESTAMP_NTZ (Spark 3.4+ default) — pin them to TIMESTAMP_LTZ so the
    # engine sees ONE timestamp type regardless of how the input files were
    # written; with the session zone pinned UTC above, wall-clock values are
    # identical either way and unix_micros()/window() stay valid.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Scheduler pools (fairscheduler.xml beside this module): the
    # streaming apply is pinned to the `apply` pool and index
    # maintenance to `maintenance` (no-ops under FIFO). FAIR mode is
    # OPT-IN via SPARK_GRAFT_SCHEDULER=FAIR: on a real cluster a
    # coalesced index upsert is a multi-minute job and FIFO would stall
    # every 1 s CDC micro-batch behind it — but a measured local[32]
    # A/B (bench_maintained_streaming, warm) showed FIFO 11.8k rows/s
    # vs FAIR 8.5k: at test scale the pipeline is DRIVER-bound, never
    # waits on task slots, and FAIR's interleaving only adds scheduling
    # thrash. Don't enable it below the scale that needs it.
    "spark.scheduler.mode": os.environ.get("SPARK_GRAFT_SCHEDULER",
                                           "FIFO"),
    "spark.scheduler.allocation.file": os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml"),
}


def get_spark(app_name: str = "mysql_ch_replicator_spark",
              master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback ``*``)
    so tests and bench share one code path; on a cluster the caller passes
    nothing and spark-submit's master wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
