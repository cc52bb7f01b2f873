"""Compaction scheduler tests — the reference's db_optimizer cadence
semantics (db_optimizer.py:56–98): compact due tables once, stamp the
last-run time, and do nothing again until the interval elapses."""

import os

from mysql_ch_replicator_spark.config import Settings
from mysql_ch_replicator_spark.engine import ReplicaEngine
from mysql_ch_replicator_spark.optimizer import ReplicaOptimizer
from mysql_ch_replicator_spark.sources.event_log import (
    EventLogWriter, read_event_log,
)

DDL = """CREATE TABLE users (
  id int NOT NULL, name varchar(255), PRIMARY KEY (id))"""


def _engine_with_data(spark, tmp_path, db="db1"):
    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table(db, DDL)
    log = EventLogWriter(str(tmp_path / f"log_{db}"))
    log.add(db, "users", [(1, "a"), (2, "b")])
    log.add(db, "users", [(1, "a2")])          # superseded version
    log.remove(db, "users", [(2,)])            # tombstone
    engine.apply_batch(read_event_log(spark, str(tmp_path / f"log_{db}")))
    return engine


class FakeClock:
    def __init__(self, t=1000.0):
        self.t = t

    def __call__(self):
        return self.t


def _raw_count(engine, db="db1"):
    return engine.read_raw(db, "users").count()


def test_two_calls_inside_interval_rewrite_once(spark, tmp_path):
    engine = _engine_with_data(spark, tmp_path)
    clock = FakeClock()
    opt = ReplicaOptimizer(engine, interval=600.0, clock=clock)

    assert _raw_count(engine) > 1          # superseded rows + tombstone live
    assert opt.maybe_optimize() == [("db1", "users")]
    assert _raw_count(engine) == 1         # compacted to the final state
    mtime = os.path.getmtime(engine._data_dir("db1", "users"))

    clock.t += 60                          # still inside the interval
    assert opt.maybe_optimize() == []      # no second rewrite
    assert os.path.getmtime(engine._data_dir("db1", "users")) == mtime

    clock.t += 600                         # interval elapsed
    assert opt.maybe_optimize() == [("db1", "users")]


def test_last_run_persisted_across_scheduler_restart(spark, tmp_path):
    """The reference persists last_process_time (db_optimizer.py:15–37);
    ours lives in the table's _meta.json, so a NEW scheduler instance
    still honors the previous run."""
    engine = _engine_with_data(spark, tmp_path)
    clock = FakeClock()
    ReplicaOptimizer(engine, interval=600.0, clock=clock).maybe_optimize()
    opt2 = ReplicaOptimizer(engine, interval=600.0, clock=clock)
    assert opt2.maybe_optimize() == []


def test_interval_from_settings_and_pattern_filters(spark, tmp_path):
    settings = Settings.load({
        "databases": "db*",
        "tables": "*",
        "exclude_databases": "db_skip*",
        "optimize_interval": 120.0,
    })
    engine = ReplicaEngine(spark, str(tmp_path / "replica"),
                           settings=settings)
    engine.create_table("db1", DDL)
    engine.create_table("db_skip1", DDL)
    clock = FakeClock()
    opt = ReplicaOptimizer(engine, clock=clock)
    assert opt.interval == 120.0
    # empty tables are due but optimize() no-ops on no data; the excluded
    # db never appears
    assert opt.due_tables() == [("db1", "users")]


def test_compaction_preserves_final_semantics(spark, tmp_path):
    engine = _engine_with_data(spark, tmp_path)
    before = {tuple(r) for r in
              engine.read_final("db1", "users").drop("_version").collect()}
    ReplicaOptimizer(engine, interval=0.0).maybe_optimize()
    after = {tuple(r) for r in
             engine.read_final("db1", "users").drop("_version").collect()}
    assert before == after == {(1, "a2")}


def test_enable_optimize_final_false_disables_sweep(spark, tmp_path):
    """enable_optimize_final: false turns the compaction scheduler off —
    the reference's flag that drops OPTIMIZE ... FINAL
    (config.py:189, db_optimizer.py:75)."""
    settings = Settings.load({"enable_optimize_final": False})
    engine = ReplicaEngine(spark, str(tmp_path / "replica"),
                           settings=settings)
    engine.create_table("db1", DDL)
    opt = ReplicaOptimizer(engine, interval=0.0, clock=FakeClock())
    assert opt.due_tables() == []
    assert opt.maybe_optimize() == []


def test_scheduler_vacuums_expired_generations(spark, tmp_path):
    """r5 verdict #5: a long-lived supervisor must reclaim retired
    generations through the scheduler, not only on the next rewrite.
    After a compaction retires gen0, maybe_vacuum does nothing inside the
    retention grace (in-flight readers keep their files), reclaims the
    expired dir once the grace elapses, and self-clears (second call is a
    no-op). Readers stay correct throughout."""
    from mysql_ch_replicator_spark.engine import load_gen_manifest

    engine = _engine_with_data(spark, tmp_path)
    engine.generation_retention_s = 30.0
    clock = FakeClock()
    opt = ReplicaOptimizer(engine, interval=600.0, clock=clock)
    opt.maybe_optimize()                       # rewrite retires gen0

    root = engine._table_dir("db1", "users")
    retired = load_gen_manifest(root)["retired"]
    assert len(retired) == 1
    retired_dir = os.path.join(root, retired[0]["name"])
    assert os.path.isdir(retired_dir)

    # inside the grace window: due-scan says nothing, files survive
    clock.t = retired[0]["ts"] + 10
    assert opt.maybe_vacuum() == []
    assert os.path.isdir(retired_dir)

    # grace elapsed: the scheduler reclaims without a new rewrite...
    clock.t = retired[0]["ts"] + 31
    assert opt.maybe_vacuum() == [("db1", "users")]
    assert not os.path.exists(retired_dir)
    assert load_gen_manifest(root)["retired"] == []
    # ...self-clears, and readers are unaffected
    assert opt.maybe_vacuum() == []
    got = {tuple(r) for r in
           engine.read_final("db1", "users").drop("_version").collect()}
    assert got == {(1, "a2")}


def test_concurrent_apply_optimize_and_read(spark, tmp_path):
    """True thread interleaving over one table: a CDC writer applies 4
    sequential batches while a compactor loops the scheduler's
    maybe_optimize() (compaction, then the last-run stamp) and a reader
    loops read_final().count() — the streaming-thread vs supervisor-thread
    race the table lock, the generation manifest and update_meta exist
    for. No batch may be lost to a rewrite window, no read may crash on
    vanished files, and no stamp may roll the watermarks back."""
    import threading

    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db", """CREATE TABLE t (
      id int NOT NULL, v int, PRIMARY KEY (id))""")

    logs = []
    seq = 0
    for b in range(4):
        log = EventLogWriter(str(tmp_path / f"log{b}"))
        log._seq = seq
        log.add("db", "t", [(b * 40 + i, b) for i in range(40)])
        if b:  # update half of the previous batch's keys
            log.add("db", "t", [((b - 1) * 40 + i, 99) for i in range(20)])
        last_seq = log._seq - 1
        seq = log._seq + 1000
        logs.append(str(tmp_path / f"log{b}"))

    stop = threading.Event()
    errors: list[BaseException] = []
    optimizer = ReplicaOptimizer(engine, interval=0)

    def compactor():
        while not stop.is_set():
            try:
                optimizer.maybe_optimize()
            except BaseException as e:  # noqa: BLE001 - recorded for assert
                errors.append(e)
                return

    def reader():
        while not stop.is_set():
            try:
                engine.read_final("db", "t").count()
            except BaseException as e:  # noqa: BLE001
                errors.append(e)
                return

    threads = [threading.Thread(target=compactor),
               threading.Thread(target=reader)]
    for t in threads:
        t.start()
    try:
        for d in logs:
            engine.apply_batch(read_event_log(spark, d))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
    assert not errors, errors

    meta = engine.load_meta("db", "t")
    assert (meta["last_seq"], meta["last_version"]) == (last_seq, 4)
    rows = {r.id: r.v for r in engine.read_final("db", "t").collect()}
    assert len(rows) == 160
    for b in range(4):
        for i in range(40):
            expect = 99 if (b < 3 and i < 20) else b
            assert rows[b * 40 + i] == expect, (b, i, rows[b * 40 + i])


def test_generation_time_travel_across_optimize(spark, tmp_path):
    """read_final(generation=...) returns the pre-OPTIMIZE final state
    from the retired directory after the live table moved on;
    list_generations catalogs exactly what is on disk; a reclaimed
    generation raises instead of returning wrong data."""
    import pytest as _pytest

    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.optimizer import ReplicaOptimizer

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db", """CREATE TABLE t (
        id bigint NOT NULL, v varchar(16), PRIMARY KEY (id))""")

    def batch(rows, seq0):
        return spark.createDataFrame(
            [("f", i + seq0, i + seq0, "db", "t", 1,
              [[str(i), s]], None) for i, s in rows],
            "tx_file string, tx_pos long, seq long, db string, "
            "table string, event_type int, "
            "payload array<array<string>>, query string")

    engine.apply_batch(batch([(1, "a"), (2, "b")], 100))
    opt = ReplicaOptimizer(engine, interval=3600.0)
    assert opt.maybe_optimize() == [("db", "t")]

    gens = engine.list_generations("db", "t")
    assert gens[0]["current"] and gens[0]["name"].startswith("data.gen")
    retired = [g for g in gens if not g["current"]]
    assert len(retired) == 1 and retired[0]["retired_ts"] is not None
    old = retired[0]["name"]

    engine.apply_batch(batch([(1, "a2"), (3, "c")], 200))  # mutate current
    now = {(r.id, r.v) for r in engine.read_final("db", "t")
           .select("id", "v").collect()}
    then = {(r.id, r.v) for r in engine.read_final("db", "t", generation=old)
            .select("id", "v").collect()}
    assert now == {(1, "a2"), (2, "b"), (3, "c")}
    assert then == {(1, "a"), (2, "b")}

    # reclaim: a second rewrite with zero retention removes the old dir
    engine.generation_retention_s = 0.0
    assert ReplicaOptimizer(engine, interval=0.0).maybe_optimize()
    with _pytest.raises(ValueError, match="not\\s+on disk"):
        engine.read_raw("db", "t", generation=old).collect()
    assert old not in [g["name"]
                       for g in engine.list_generations("db", "t")]
