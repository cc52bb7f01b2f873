"""End-to-end CDC convergence tests — the engine-side analog of the
reference's e2e suite (tests/test_e2e_integration.py, FIXTURES F01/F08/F13):
write an event log, apply it, assert the dedup-final replica equals the
expected row set."""

import os

import pytest

from mysql_ch_replicator_spark.engine import ReplicaEngine
from mysql_ch_replicator_spark.sources.event_log import (
    EventLogWriter, read_event_log,
)

DB = "testdb"

USERS_DDL = """CREATE TABLE users (
  id int NOT NULL AUTO_INCREMENT,
  name varchar(255),
  age int,
  PRIMARY KEY (id)
)"""


@pytest.fixture
def engine(spark, tmp_path):
    return ReplicaEngine(spark, str(tmp_path / "replica"))


def _final_rows(engine, table="users"):
    return {tuple(r) for r in
            engine.read_final(DB, table).drop("_version").collect()}


def test_insert_update_delete_convergence_f01(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "Ivan", 42), (2, "Petr", 33), (3, "Anya", 25)])
    log.add(DB, "users", [(2, "Petr Updated", 34)])   # update = ADD after-image
    log.remove(DB, "users", [(3,)])                   # delete by PK
    log.add(DB, "users", [(4, "New", 18)])

    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine) == {
        (1, "Ivan", 42), (2, "Petr Updated", 34), (4, "New", 18)}


def test_add_cancels_delete_and_vice_versa(engine, spark, tmp_path):
    """K1/K2 annihilation (reference db_replicator_realtime.py:140–177)."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1), (2, "B", 2)])
    log.remove(DB, "users", [(1,)])
    log.add(DB, "users", [(1, "A-back", 3)])   # reinstates key 1
    log.add(DB, "users", [(2, "B2", 4)])
    log.remove(DB, "users", [(2,)])            # final op for key 2: delete

    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine) == {(1, "A-back", 3)}


def test_composite_pk_delete_f08(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, """CREATE TABLE composite_pk (
      departments int NOT NULL, termine int NOT NULL,
      PRIMARY KEY (departments, termine))""")
    log.add(DB, "composite_pk", [(10, 20), (30, 40), (50, 60)])
    log.remove(DB, "composite_pk", [(30, 40)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine, "composite_pk") == {(10, 20), (50, 60)}


def test_non_prefix_pk_delete(engine, spark, tmp_path):
    """REMOVE payloads are dense PK-ordered (positions 1..k), not at
    structural ordinals — a table whose PK is NOT the leading column must
    still delete the right key (ADVICE r1 high: positional misread
    coalesced the PK to its NOT-NULL default and deleted the wrong row)."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, """CREATE TABLE mid_pk (
      label varchar(32), id int NOT NULL, score int,
      PRIMARY KEY (id))""")
    log.add(DB, "mid_pk", [("a", 1, 10), ("b", 2, 20), ("c", 3, 30)])
    log.remove(DB, "mid_pk", [(2,)])   # dense: id at payload position 1
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine, "mid_pk") == {("a", 1, 10), ("c", 3, 30)}


def test_reordered_composite_pk_delete(engine, spark, tmp_path):
    """Composite PK declared in a different order than the columns appear
    in the structure: the REMOVE payload follows primary_keys order."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, """CREATE TABLE rev_pk (
      a int NOT NULL, b varchar(16), c int NOT NULL,
      PRIMARY KEY (c, a))""")
    log.add(DB, "rev_pk", [(1, "x", 100), (2, "y", 200), (3, "z", 300)])
    log.remove(DB, "rev_pk", [(200, 2)])   # (c, a) order
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine, "rev_pk") == {(1, "x", 100), (3, "z", 300)}


def test_replay_idempotent_f03(engine, spark, tmp_path):
    """F3 — applying the same batch twice must not change the result
    (restart resumes one checkpoint early, reference binlog_replicator
    .py:360–372)."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1)])
    log.remove(DB, "users", [(1,)])
    log.add(DB, "users", [(1, "A2", 2)])
    batch = read_event_log(spark, str(tmp_path / "log"))
    engine.apply_batch(batch)
    v1 = engine.read_final(DB, "users").collect()
    engine.apply_batch(batch)  # replay
    v2 = engine.read_final(DB, "users").collect()
    assert v1 == v2
    assert {tuple(r)[:3] for r in v1} == {(1, "A2", 2)}


def test_ddl_replay_idempotent(engine, spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch containing DDL must
    not re-apply the DDL (duplicate ADD COLUMN would poison the structure
    with duplicate names; replayed CREATE would reset version watermarks)."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1)])
    log.ddl(DB, "ALTER TABLE users ADD COLUMN city varchar(32)")
    log.add(DB, "users", [(2, "B", 2, "Paris")])
    batch = read_event_log(spark, str(tmp_path / "log"))
    engine.apply_batch(batch)
    v1 = sorted(map(tuple, engine.read_final(DB, "users").collect()))
    st1 = engine.structure(DB, "users").field_names
    engine.apply_batch(batch)  # simulated retry of the same micro-batch
    v2 = sorted(map(tuple, engine.read_final(DB, "users").collect()))
    st2 = engine.structure(DB, "users").field_names
    assert st1 == st2 == ["id", "name", "age", "city"]
    assert v1 == v2
    assert engine.load_meta(DB, "users")["last_version"] > 0


def test_recreate_preserves_version_watermark(engine, spark, tmp_path):
    """A replayed CREATE TABLE (no IF NOT EXISTS) over an existing table
    must not reset last_version/last_seq over existing data."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    before = engine.load_meta(DB, "users")
    engine.create_table(DB, USERS_DDL)  # direct re-create, no seq guard
    after = engine.load_meta(DB, "users")
    assert after["last_version"] == before["last_version"]
    assert after["last_seq"] == before["last_seq"]


def test_version_monotonic_across_batches(engine, spark, tmp_path):
    log1 = EventLogWriter(str(tmp_path / "log1"))
    engine.create_table(DB, USERS_DDL)
    log1.add(DB, "users", [(1, "A", 1)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))

    log2 = EventLogWriter(str(tmp_path / "log2"))
    log2._seq = 100  # later transactions
    log2.add(DB, "users", [(1, "A-newer", 2)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log2")))

    rows = engine.read_final(DB, "users").collect()
    assert len(rows) == 1
    assert rows[0].name == "A-newer"
    assert rows[0]._version == 2
    assert engine.load_meta(DB, "users")["last_version"] == 2


def test_snapshot_then_realtime(engine, spark, tmp_path):
    """Initial replication (S1/K4/S5) followed by CDC — the two-phase
    lifecycle (reference db_replicator.py:213–281)."""
    engine.create_table(DB, USERS_DDL)
    snap = spark.createDataFrame(
        [(1, "Ivan", 42), (2, "Petr", 33)], "id int, name string, age int")
    engine.snapshot_table(DB, "users", snap)
    assert _final_rows(engine) == {(1, "Ivan", 42), (2, "Petr", 33)}

    log = EventLogWriter(str(tmp_path / "log"))
    log.add(DB, "users", [(2, "Petr2", 34), (3, "Anya", 20)])
    log.remove(DB, "users", [(1,)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine) == {(2, "Petr2", 34), (3, "Anya", 20)}


def test_ddl_evolution_interleaved_f13(engine, spark, tmp_path):
    """FIXTURES F13 — inserts interleaved with ALTERs land with the column
    set current at their position in the log."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "Ivan", 42)])
    log.ddl(DB, "ALTER TABLE users ADD last_name varchar(255)")
    log.add(DB, "users", [(2, "Petr", 33, "Petrov")])
    log.ddl(DB, "ALTER TABLE users ADD UNIQUE INDEX prise_idx (age)")  # ignored
    log.ddl(DB, "ALTER TABLE users ADD COLUMN country varchar(25) "
                "DEFAULT '' NOT NULL AFTER name")
    log.add(DB, "users", [(3, "Anya", "RU", 25, "Ivanova")])  # country after name
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    st = engine.structure(DB, "users")
    assert st.field_names == ["id", "name", "country", "age", "last_name"]
    rows = {r.id: r for r in engine.read_final(DB, "users").collect()}
    assert rows[1].last_name is None and rows[1].country == ""  # NOT NULL default
    assert rows[2].last_name == "Petrov"
    assert rows[3].country == "RU" and rows[3].last_name == "Ivanova"


def test_ddl_change_drop_rename_f13(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "Ivan", 42)])
    log.ddl(DB, "ALTER TABLE users CHANGE COLUMN name full_name varchar(500)")
    log.add(DB, "users", [(2, "Petr", 33)])
    log.ddl(DB, "ALTER TABLE users DROP COLUMN age")
    log.add(DB, "users", [(3, "Anya")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    st = engine.structure(DB, "users")
    assert st.field_names == ["id", "full_name"]
    assert _final_rows(engine) == {(1, "Ivan"), (2, "Petr"), (3, "Anya")}


def test_create_drop_rename_truncate_tables_f13(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.ddl(DB, "CREATE TABLE users2 (id int NOT NULL AUTO_INCREMENT, "
                "name varchar(255), age int, PRIMARY KEY (id))")
    log.add(DB, "users2", [(1, "X", 9)])
    log.ddl(DB, "CREATE TABLE users3 LIKE users2")
    log.add(DB, "users3", [(1, "Y", 8)])
    log.ddl(DB, "RENAME TABLE users2 TO users2_renamed")
    log.ddl(DB, "TRUNCATE TABLE users3")
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    assert engine.table_exists(DB, "users2_renamed")
    assert not engine.table_exists(DB, "users2")
    assert _final_rows(engine, "users2_renamed") == {(1, "X", 9)}
    assert _final_rows(engine, "users3") == set()

    log2 = EventLogWriter(str(tmp_path / "log2"))
    log2._seq = 100
    log2.ddl(DB, "DROP TABLE users3")
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log2")))
    assert not engine.table_exists(DB, "users3")


def test_ignore_deletes_mode_k6(spark, tmp_path):
    engine = ReplicaEngine(spark, str(tmp_path / "replica"),
                           ignore_deletes=True)
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1)])
    log.remove(DB, "users", [(1,)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine) == {(1, "A", 1)}


def test_optimize_compaction(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1), (2, "B", 2)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    log2 = EventLogWriter(str(tmp_path / "log2"))
    log2._seq = 10
    log2.add(DB, "users", [(1, "A2", 3)])
    log2.remove(DB, "users", [(2,)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log2")))

    before = _final_rows(engine)
    engine.optimize(DB, "users")
    assert _final_rows(engine) == before == {(1, "A2", 3)}
    # compaction physically dropped superseded versions + tombstones
    raw = engine.read_raw(DB, "users")
    assert raw.count() == 1

    # CDC keeps working above the preserved version watermark
    log3 = EventLogWriter(str(tmp_path / "log3"))
    log3._seq = 20
    log3.add(DB, "users", [(1, "A3", 4)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log3")))
    assert _final_rows(engine) == {(1, "A3", 4)}


def test_string_pk_f12(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, """CREATE TABLE string_pk (
      id char(30) NOT NULL, name varchar(255), PRIMARY KEY (id))""")
    log.add(DB, "string_pk", [("k-1", "one"), ("k-2", "two")])
    log.add(DB, "string_pk", [("k-1", "one-updated")])
    log.remove(DB, "string_pk", [("k-2",)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine, "string_pk") == {("k-1", "one-updated")}


def test_streaming_end_to_end(engine, spark, tmp_path):
    """Realtime mode through actual Structured Streaming (S2→K3)."""
    log_dir = str(tmp_path / "stream_log")
    os.makedirs(log_dir)
    engine.create_table(DB, USERS_DDL)

    log = EventLogWriter(log_dir)
    log.add(DB, "users", [(1, "Ivan", 42), (2, "Petr", 33)])
    log.remove(DB, "users", [(2,)])
    log.rotate()  # streaming file source reads completed files only

    q = engine.start_streaming(log_dir, str(tmp_path / "ckpt"),
                               trigger_seconds=0.5)
    try:
        q.processAllAvailable()
        assert _final_rows(engine) == {(1, "Ivan", 42)}
        # late-arriving file picked up by the stream
        log.add(DB, "users", [(3, "Anya", 25)])
        q.processAllAvailable()
        assert _final_rows(engine) == {(1, "Ivan", 42), (3, "Anya", 25)}
    finally:
        q.stop()


def test_streaming_restart_from_checkpoint(engine, spark, tmp_path):
    """Kill/restart resume (reference tests/test_mysql_ch_replicator.py:135+):
    a new streaming query on the SAME checkpoint continues where the old one
    stopped — already-processed files are not replayed (and the seq replay
    guard would make replay harmless anyway)."""
    log_dir = str(tmp_path / "stream_log")
    os.makedirs(log_dir)
    engine.create_table(DB, USERS_DDL)

    log = EventLogWriter(log_dir)
    log.add(DB, "users", [(1, "Ivan", 42)])
    log.rotate()

    q = engine.start_streaming(log_dir, str(tmp_path / "ckpt"),
                               trigger_seconds=0.5)
    try:
        q.processAllAvailable()
        assert _final_rows(engine) == {(1, "Ivan", 42)}
    finally:
        q.stop()
    version_after_first = engine.load_meta(DB, "users")["last_version"]

    # events arriving while the consumer is down
    log.add(DB, "users", [(1, "Ivan-2", 43), (2, "Petr", 33)])
    log.rotate()

    q2 = engine.start_streaming(log_dir, str(tmp_path / "ckpt"),
                                trigger_seconds=0.5)
    try:
        q2.processAllAvailable()
        assert _final_rows(engine) == {(1, "Ivan-2", 43), (2, "Petr", 33)}
    finally:
        q2.stop()
    # exactly one more batch applied — file 0 was NOT reprocessed
    assert engine.load_meta(DB, "users")["last_version"] \
        == version_after_first + 1


def test_live_writer_files_complete_at_first_visibility(spark, tmp_path):
    """live=True: nothing is visible until rotate(), and a published file
    never grows — the contract Spark's streaming file source requires."""
    log_dir = str(tmp_path / "log")
    log = EventLogWriter(log_dir, live=True)
    log.add(DB, "users", [(1, "A", 1)])
    log.add(DB, "users", [(2, "B", 2)])
    assert os.listdir(log_dir) == []            # buffered, not yet visible
    log.rotate()
    assert os.listdir(log_dir) == ["000000.jsonl"]
    with open(os.path.join(log_dir, "000000.jsonl")) as fh:
        assert len(fh.readlines()) == 2
    log.add(DB, "users", [(3, "C", 3)])
    # earlier file untouched; new events in the unpublished buffer
    with open(os.path.join(log_dir, "000000.jsonl")) as fh:
        assert len(fh.readlines()) == 2
    log.flush()
    assert sorted(os.listdir(log_dir)) == ["000000.jsonl", "000001.jsonl"]


def test_live_writer_auto_publishes_at_records_per_file(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    log = EventLogWriter(log_dir, records_per_file=2, live=True)
    for i in range(5):
        log.add(DB, "users", [(i, "x", i)])
    # 5 events, 2/file → two complete files visible, 1 event buffered
    assert sorted(os.listdir(log_dir)) == ["000000.jsonl", "000001.jsonl"]


def test_percona_online_ddl_dance(engine, spark, tmp_path):
    """pt-online-schema-change pattern (reference
    tests/test_ddl_operations.py:50–126): build `_users_new` alongside,
    copy, atomically swap via multi-clause RENAME, drop the old table —
    readers only ever see a complete `users`."""
    engine.create_table(DB, USERS_DDL)
    log = EventLogWriter(str(tmp_path / "log"))
    log.add(DB, "users", [(1, "Ivan", 42), (2, "Petr", 33)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    log2 = EventLogWriter(str(tmp_path / "log2"))
    log2._seq = 100
    log2.ddl(DB, """CREATE TABLE `_users_new` (
        id int NOT NULL,
        name varchar(255),
        age int,
        email varchar(255),
        PRIMARY KEY (id))""")
    log2.add(DB, "_users_new", [(1, "Ivan", 42, "i@x.com"),
                                (2, "Petr", 33, "p@x.com")])
    log2.ddl(DB, "RENAME TABLE `users` TO `_users_old`, "
                 "`_users_new` TO `users`")
    log2.ddl(DB, "DROP TABLE `_users_old`")
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log2")))

    assert engine.tables(DB) == ["users"]
    got = {tuple(r) for r in
           engine.read_final(DB, "users").drop("_version").collect()}
    assert got == {(1, "Ivan", 42, "i@x.com"), (2, "Petr", 33, "p@x.com")}


def test_incremental_agg_group_move_and_retraction(spark):
    """Delta maintenance must handle the two hard cases exactly: a key
    whose group CHANGES between batches (retract from old group, add to
    new), and a delete retracting a prior contribution."""
    from pyspark.sql import functions as F
    from mysql_ch_replicator_spark.operators.incremental_agg import (
        agg_of, apply_agg_batch, empty_agg)
    from mysql_ch_replicator_spark.operators.replica import (
        OP_ADD, OP_COL, OP_REMOVE, SEQ_COL, collapse_batch)

    def batch(rows):
        return collapse_batch(spark.createDataFrame(
            rows, f"user_id bigint, event_type string, value double, "
                  f"{SEQ_COL} long, {OP_COL} int"), ["user_id"])

    state = spark.createDataFrame(
        [], "user_id bigint, event_type string, value double")
    agg = empty_agg(spark, "event_type")

    b1 = batch([(1, "a", 10.0, 1, OP_ADD), (2, "a", 20.0, 2, OP_ADD),
                (3, "b", 30.0, 3, OP_ADD)])
    state, agg = apply_agg_batch(state, b1, agg,
                                 ["user_id"], "event_type", "value")
    b2 = batch([(1, "b", 5.0, 4, OP_ADD),      # group move a -> b
                (2, None, None, 5, OP_REMOVE),  # retraction
                (4, "a", 7.0, 6, OP_ADD)])
    state, agg = apply_agg_batch(state, b2, agg,
                                 ["user_id"], "event_type", "value")

    got = {r.event_type: (r.n_rows, str(r.total)) for r in agg.collect()}
    assert got == {"a": (1, "7.00"), "b": (2, "35.00")}
    # incremental == from-scratch over the final state
    scratch = {r.event_type: (r.n_rows, str(r.total))
               for r in agg_of(state, "event_type", "value").collect()}
    assert got == scratch


def test_engine_maintained_aggregate(engine, spark, tmp_path):
    """A registered aggregate view advances per batch by delta arithmetic
    and always equals the from-scratch view over read_final — including
    updates that move a key between groups and deletes."""
    from mysql_ch_replicator_spark.operators.incremental_agg import agg_of

    engine.create_table(DB, """CREATE TABLE acct (
      id int NOT NULL, grp varchar(16), amount decimal(18,2),
      PRIMARY KEY (id))""")
    log = EventLogWriter(str(tmp_path / "log1"))
    log.add(DB, "acct", [(1, "a", "10.00"), (2, "a", "20.00"),
                         (3, "b", "30.00")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))

    engine.register_aggregate(DB, "acct", "by_grp", "grp", "amount")
    view = {r.grp: (r.n_rows, str(r.total)) for r in
            engine.read_aggregate(DB, "acct", "by_grp").collect()}
    assert view == {"a": (2, "30.00"), "b": (1, "30.00")}

    log.add(DB, "acct", [(1, "b", "5.00")])      # group move a -> b
    log.remove(DB, "acct", [(2,)])               # retraction
    log.add(DB, "acct", [(4, "c", "7.50")])      # new group
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))

    view = {r.grp: (r.n_rows, str(r.total)) for r in
            engine.read_aggregate(DB, "acct", "by_grp").collect()}
    assert view == {"b": (2, "35.00"), "c": (1, "7.50")}
    scratch = {r.grp: (r.n_rows, str(r.total)) for r in
               agg_of(engine.read_final(DB, "acct"),
                      "grp", "amount").collect()}
    assert view == scratch


def test_sharded_snapshot_workers_consolidate(engine, spark, tmp_path):
    """3-worker sharded initial replication, run CONCURRENTLY: the shard
    union must equal the full table exactly (disjoint + exhaustive CRC32
    sharding), and recover_version must reconcile the per-table watermark
    from MAX(_version) afterwards — the reference's multi-threaded initial
    replication + version consolidation (db_replicator_initial.py:386–470,
    ``initial_replication_threads``)."""
    engine.create_table(DB, USERS_DDL)
    src = spark.createDataFrame(
        [(i, f"u{i}", i % 90) for i in range(1, 2001)],
        "id int, name string, age int")
    engine.snapshot_table_sharded(DB, "users", src, workers=3)

    assert engine.read_final(DB, "users").count() == 2000  # no dup, no loss
    got = {(r.id, r.name, r.age) for r in
           engine.read_final(DB, "users").drop("_version").collect()}
    assert got == {(i, f"u{i}", i % 90) for i in range(1, 2001)}
    # version watermark consolidated: snapshot rows are version-1 peers
    assert engine.load_meta(DB, "users")["last_version"] == 1
    assert engine.recover_version(DB, "users") == 1
    # and CDC keeps working on top of the sharded snapshot
    log = EventLogWriter(str(tmp_path / "log"))
    log.add(DB, "users", [(1, "updated", 99)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    row = engine.read_final(DB, "users").where("id = 1").collect()[0]
    assert (row.name, row.age) == ("updated", 99)
    assert engine.load_meta(DB, "users")["last_version"] == 2


def test_database_level_atomic_publish(engine, spark, tmp_path):
    """D14 full analog (reference db_replicator_initial.py:149–163): a
    multi-table initial snapshot staged under ``{db}_tmp`` is invisible
    until ONE publish_database call, then fully visible — never
    half-published."""
    staging = f"{DB}_tmp"
    engine.create_table(staging, USERS_DDL)
    engine.create_table(staging, """CREATE TABLE items (
      id int NOT NULL, label varchar(32), PRIMARY KEY (id))""")
    engine.snapshot_table(staging, "users", spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20)], "id int, name string, age int"))
    engine.snapshot_table(staging, "items", spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "id int, label string"))

    assert not engine.table_exists(DB, "users")   # invisible pre-publish
    assert not engine.table_exists(DB, "items")

    engine.publish_database(staging, DB)
    assert engine.tables(DB) == ["items", "users"]  # all-at-once visible
    assert staging not in engine.databases()
    assert engine.read_final(DB, "users").count() == 2
    assert engine.read_final(DB, "items").count() == 3


def test_database_publish_crash_recovery(engine, spark, tmp_path):
    """Crash mid-swap: marker written, old db renamed away, staging not yet
    renamed — a restarted engine must roll the publish FORWARD (staging was
    complete by contract). An orphan staging with NO marker is an
    incomplete snapshot and is dropped."""
    import json as _json

    from mysql_ch_replicator_spark.engine import ReplicaEngine

    # live db with one table
    engine.create_table(DB, USERS_DDL)
    engine.snapshot_table(DB, "users", spark.createDataFrame(
        [(1, "old", 1)], "id int, name string, age int"))
    # complete staging with the refreshed snapshot
    staging = f"{DB}_tmp"
    engine.create_table(staging, USERS_DDL)
    engine.snapshot_table(staging, "users", spark.createDataFrame(
        [(1, "new", 2), (2, "B", 3)], "id int, name string, age int"))

    # simulate the crash window: marker on disk, target renamed to .old,
    # staging still in place (crash between the two renames)
    root = engine.root
    with open(os.path.join(root, f"_publish_{DB}.json"), "w",
              encoding="utf-8") as fh:
        _json.dump({"staging": staging}, fh)
    os.rename(os.path.join(root, DB), os.path.join(root, DB + ".old"))

    e2 = ReplicaEngine(spark, root)   # restart → recovery runs in __init__
    assert e2.tables(DB) == ["users"]
    assert {r.name for r in e2.read_final(DB, "users").collect()} \
        == {"new", "B"}
    assert not os.path.exists(os.path.join(root, DB + ".old"))
    assert not os.path.exists(os.path.join(root, f"_publish_{DB}.json"))
    assert staging not in e2.databases()


def test_truncate_resets_maintained_aggregate(engine, spark, tmp_path):
    """TRUNCATE must reset registered aggregate views along with the data:
    the view's seq watermark still equals the table's after a truncate, so
    the watermark-mismatch repair alone would never fire and later deltas
    would merge onto the stale pre-truncate view (ADVICE r2 #1)."""
    from mysql_ch_replicator_spark.operators.incremental_agg import agg_of

    engine.create_table(DB, """CREATE TABLE acct (
      id int NOT NULL, grp varchar(16), amount decimal(18,2),
      PRIMARY KEY (id))""")
    log = EventLogWriter(str(tmp_path / "log1"))
    log.add(DB, "acct", [(1, "a", "10.00"), (2, "a", "20.00"),
                         (3, "b", "30.00")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))
    engine.register_aggregate(DB, "acct", "by_grp", "grp", "amount")

    log.ddl(DB, "TRUNCATE TABLE acct")
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))
    assert engine.read_aggregate(DB, "acct", "by_grp").count() == 0

    # post-truncate batches must merge onto the EMPTY view, not the stale one
    log.add(DB, "acct", [(1, "a", "5.00"), (4, "c", "7.50")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))
    view = {r.grp: (r.n_rows, str(r.total)) for r in
            engine.read_aggregate(DB, "acct", "by_grp").collect()}
    assert view == {"a": (1, "5.00"), "c": (1, "7.50")}
    scratch = {r.grp: (r.n_rows, str(r.total)) for r in
               agg_of(engine.read_final(DB, "acct"),
                      "grp", "amount").collect()}
    assert view == scratch


def test_aggregate_high_cardinality_group_no_driver_roundtrip(
        engine, spark, tmp_path):
    """Deltas stay distributed: an aggregate grouped on the PK itself
    (every row its own group — the worst case for a driver collect) goes
    through the staging-parquet path and stays exact (VERDICT r2 #2)."""
    from mysql_ch_replicator_spark.operators.incremental_agg import agg_of

    engine.create_table(DB, """CREATE TABLE wide (
      id int NOT NULL, grp varchar(16), amount decimal(18,2),
      PRIMARY KEY (id))""")
    log = EventLogWriter(str(tmp_path / "log1"))
    log.add(DB, "wide", [(i, f"g{i}", f"{i}.00") for i in range(1, 501)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))
    engine.register_aggregate(DB, "wide", "by_id", "grp", "amount")

    log.add(DB, "wide", [(i, f"g{i}", f"{i + 1000}.00")
                         for i in range(1, 251)])      # update half
    log.remove(DB, "wide", [(i,) for i in range(251, 301)])  # delete 50
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))

    agg = engine.read_aggregate(DB, "wide", "by_id")
    assert agg.count() == 450
    view = {r.grp: (r.n_rows, str(r.total)) for r in agg.collect()}
    scratch = {r.grp: (r.n_rows, str(r.total)) for r in
               agg_of(engine.read_final(DB, "wide"),
                      "grp", "amount").collect()}
    assert view == scratch
    # no staging leftovers after a successful merge
    import glob
    assert not glob.glob(os.path.join(
        engine._agg_dir(DB, "wide", "by_id"), "delta.staging"))


def test_engine_aggregate_crash_gap_rebuild(engine, spark, tmp_path):
    """If the view's seq watermark disagrees with the table's (crash
    between table write and view write), the next batch rebuilds it."""
    engine.create_table(DB, USERS_DDL)
    log = EventLogWriter(str(tmp_path / "log1"))
    log.add(DB, "users", [(1, "A", 10), (2, "B", 20)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))
    engine.register_aggregate(DB, "users", "by_name", "name", "age")

    # simulate the crash gap: poison the view's watermark
    import json as _json
    p = engine._agg_state_path(DB, "users", "by_name")
    with open(p, "w", encoding="utf-8") as fh:
        _json.dump({"last_seq": -1}, fh)

    log.add(DB, "users", [(3, "C", 30)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log1")))
    view = {r.name: (r.n_rows, str(r.total)) for r in
            engine.read_aggregate(DB, "users", "by_name").collect()}
    assert view == {"A": (1, "10.00"), "B": (1, "20.00"),
                    "C": (1, "30.00")}


def test_streaming_maintained_aggregate(engine, spark, tmp_path):
    """The maintained view advances through the REAL Structured Streaming
    path (foreachBatch -> apply_batch), across multiple micro-batches."""
    from mysql_ch_replicator_spark.operators.incremental_agg import agg_of

    log_dir = str(tmp_path / "stream_log")
    os.makedirs(log_dir)
    engine.create_table(DB, USERS_DDL)
    engine.register_aggregate(DB, "users", "by_name", "name", "age")

    log = EventLogWriter(log_dir)
    log.add(DB, "users", [(1, "A", 10), (2, "A", 20), (3, "B", 30)])
    log.rotate()
    q = engine.start_streaming(log_dir, str(tmp_path / "ckpt"),
                               trigger_seconds=0.5)
    try:
        q.processAllAvailable()
        log.add(DB, "users", [(1, "B", 11)])   # group move
        log.remove(DB, "users", [(2,)])        # retraction
        log.rotate()
        q.processAllAvailable()
    finally:
        q.stop()

    view = {r.name: (r.n_rows, str(r.total)) for r in
            engine.read_aggregate(DB, "users", "by_name").collect()}
    scratch = {r.name: (r.n_rows, str(r.total)) for r in
               agg_of(engine.read_final(DB, "users"),
                      "name", "age").collect()}
    assert view == scratch == {"B": (2, "41.00")}


@pytest.mark.heavy
def test_incremental_agg_random_sequences(spark):
    """Property: for random op sequences in random batch splits, the
    incrementally maintained view equals the from-scratch aggregate of the
    final state (drift in either count or decimal sum fails)."""
    import random

    from mysql_ch_replicator_spark.operators.incremental_agg import (
        agg_of, apply_agg_batch, checkpoint_pair, empty_agg)
    from mysql_ch_replicator_spark.operators.replica import (
        OP_ADD, OP_COL, OP_REMOVE, SEQ_COL, collapse_batch)

    rng = random.Random(20260813)
    for trial in range(5):
        ops = []
        for seq in range(rng.randint(10, 40)):
            uid = rng.randint(1, 8)
            if rng.random() < 0.3:
                ops.append((uid, None, None, seq, OP_REMOVE))
            else:
                grp = None if rng.random() < 0.15 \
                    else f"g{rng.randint(0, 3)}"   # NULL group is a group
                ops.append((uid, grp,
                            float(rng.randint(0, 9999)) / 100, seq, OP_ADD))
        cuts = sorted(rng.sample(range(1, len(ops)), 2))
        batches = [ops[:cuts[0]], ops[cuts[0]:cuts[1]], ops[cuts[1]:]]

        state = spark.createDataFrame(
            [], "user_id bigint, event_type string, value double")
        agg = empty_agg(spark, "event_type")
        for rows in batches:
            if not rows:
                continue
            b = collapse_batch(spark.createDataFrame(
                rows, f"user_id bigint, event_type string, value double, "
                      f"{SEQ_COL} long, {OP_COL} int"), ["user_id"])
            state, agg = apply_agg_batch(state, b, agg,
                                         ["user_id"], "event_type", "value")
            # eager checkpoint (the production per-batch pattern): a lazy
            # persist leaves the nested plan to be re-ANALYZED per batch,
            # which dominated this sweep's runtime
            state, agg = checkpoint_pair(state, agg)

        got = {r.event_type: (r.n_rows, str(r.total))
               for r in agg.collect()}
        scratch = {r.event_type: (r.n_rows, str(r.total))
                   for r in agg_of(state, "event_type", "value").collect()}
        assert got == scratch, f"trial {trial}: {got} != {scratch}"


def test_aggregate_follows_schema_evolution(engine, spark, tmp_path):
    """A maintained view follows RENAME COLUMN; DROP of a referenced
    column removes the view (a stale spec would poison later deltas)."""
    engine.create_table(DB, """CREATE TABLE acct (
      id int NOT NULL, grp varchar(16), amount decimal(18,2), note varchar(8),
      PRIMARY KEY (id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add(DB, "acct", [(1, "a", "10.00", "x"), (2, "b", "20.00", "y")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    engine.register_aggregate(DB, "acct", "by_grp", "grp", "amount")

    engine.execute_ddl(DB, "ALTER TABLE acct RENAME COLUMN grp TO segment",
                       seq=100)
    assert engine.load_meta(DB, "acct")["aggregates"]["by_grp"] == {
        "group": "segment", "value": "amount"}
    log.add(DB, "acct", [(3, "c", "5.00", "z")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    view = {r.segment: (r.n_rows, str(r.total)) for r in
            engine.read_aggregate(DB, "acct", "by_grp").collect()}
    assert view == {"a": (1, "10.00"), "b": (1, "20.00"), "c": (1, "5.00")}

    engine.execute_ddl(DB, "ALTER TABLE acct DROP COLUMN amount", seq=101)
    assert engine.load_meta(DB, "acct")["aggregates"] == {}
    assert not os.path.exists(engine._agg_dir(DB, "acct", "by_grp"))


def test_read_asof_time_travel(engine, spark, tmp_path):
    """read_asof(v) reproduces the exact post-batch states of the replica,
    including deletes; the latest version equals read_final."""
    engine.create_table(DB, USERS_DDL)
    log = EventLogWriter(str(tmp_path / "log"))
    log.add(DB, "users", [(1, "A", 10), (2, "B", 20)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    v1 = engine.load_meta(DB, "users")["last_version"]

    log.add(DB, "users", [(1, "A2", 11), (3, "C", 30)])
    log.remove(DB, "users", [(2,)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    v2 = engine.load_meta(DB, "users")["last_version"]
    assert v2 > v1

    def rows(df):
        return {tuple(r) for r in df.drop("_version").collect()}

    assert rows(engine.read_asof(DB, "users", v1)) == {
        (1, "A", 10), (2, "B", 20)}
    assert rows(engine.read_asof(DB, "users", v2)) == \
        rows(engine.read_final(DB, "users")) == {(1, "A2", 11), (3, "C", 30)}


def test_sharded_resnapshot_replaces_stale_rows(engine, spark, tmp_path):
    """A re-snapshot through the sharded path must REPLACE the table, not
    merge into it: rows deleted at the source between snapshots must be
    gone afterwards (ADVICE r3: the shard consolidation used to rename
    files into the live data dir, so source-deleted rows survived
    latest-wins dedup). Also: no leftover .staging/.shard* dirs."""
    engine.create_table(DB, USERS_DDL)
    full = spark.createDataFrame(
        [(i, f"u{i}", i % 90) for i in range(1, 501)],
        "id int, name string, age int")
    engine.snapshot_table_sharded(DB, "users", full, workers=3)
    assert engine.read_final(DB, "users").count() == 500

    # source shrank: ids 1..100 deleted, id 200 renamed
    shrunk = spark.createDataFrame(
        [(i, "renamed" if i == 200 else f"u{i}", i % 90)
         for i in range(101, 501)],
        "id int, name string, age int")
    engine.snapshot_table_sharded(DB, "users", shrunk, workers=3)

    got = {(r.id, r.name) for r in
           engine.read_final(DB, "users").select("id", "name").collect()}
    assert len(got) == 400
    assert (50, "u50") not in got          # stale row really replaced
    assert (200, "renamed") in got
    data = engine._data_dir(DB, "users")
    parent = os.path.dirname(data)
    # no shard/staging leftovers; the only data.* dirs are the manifest's
    # current generation and (grace window for in-flight readers) the one
    # retired generation
    manifest = engine._load_generations(DB, "users")
    retired_names = {r["name"] for r in manifest["retired"]}
    allowed = {manifest["current"], *retired_names, "data"}
    leftovers = [d for d in os.listdir(parent)
                 if (d.startswith("data.") or d == "data")
                 and d not in allowed]
    assert leftovers == []


def test_sharded_snapshot_applies_partition_and_index_options(spark, tmp_path):
    """S8 parity on the sharded path: partition_bys produces real directory
    partitioning after consolidation (consolidation must preserve partition
    subdirs) and the PK bloom option is applied by the shard writers."""
    from mysql_ch_replicator_spark.config import Settings

    settings = Settings.load({"partition_bys": {"users": ["age"]}})
    engine = ReplicaEngine(spark, str(tmp_path / "r"), settings=settings)
    engine.create_table(DB, USERS_DDL)
    src = spark.createDataFrame(
        [(i, f"u{i}", i % 4) for i in range(1, 401)],
        "id int, name string, age int")
    engine.snapshot_table_sharded(DB, "users", src, workers=3)

    data = engine._data_dir(DB, "users")
    part_dirs = sorted(d for d in os.listdir(data) if d.startswith("age="))
    assert part_dirs == ["age=0", "age=1", "age=2", "age=3"]
    got = {(r.id, r.name, r.age) for r in
           engine.read_final(DB, "users").drop("_version").collect()}
    assert got == {(i, f"u{i}", i % 4) for i in range(1, 401)}


def test_publish_tolerates_concurrent_recovery(engine, spark, monkeypatch):
    """ADVICE r3: a second engine constructed on the same root mid-publish
    runs recover_databases concurrently; if recovery performs the marked
    swap first, the publisher's own rename must be treated as
    completed-by-recovery, not raise FileNotFoundError."""
    import os as _os

    staging = f"{DB}_tmp"
    engine.create_table(staging, USERS_DDL)
    engine.snapshot_table(staging, "users", spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20)], "id int, name string, age int"))

    real_rename = _os.rename
    fired = {}

    def racing_rename(src, dst):
        if not fired:  # publisher's first swap rename: lose the race
            fired["x"] = True
            ReplicaEngine(spark, engine.root)  # recovery completes the swap
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", racing_rename)
    engine.publish_database(staging, DB)   # must tolerate, not raise

    assert engine.tables(DB) == ["users"]
    assert engine.read_final(DB, "users").count() == 2
    assert staging not in engine.databases()
    assert not os.path.exists(os.path.join(engine.root, f"_publish_{DB}.json"))


def test_concurrent_optimize_never_loses_appends(engine, spark, tmp_path):
    """Compaction on one thread racing CDC applies on another must never
    drop a batch: optimize()'s read -> staging -> swap runs under the
    per-table lock, so an append can't land between the file listing and
    the directory swap (it would vanish with the old dir). Without the
    lock this test is a flaky canary; with it, deterministic."""
    import threading

    engine.create_table(DB, USERS_DDL)
    log = EventLogWriter(str(tmp_path / "log"))
    stop = threading.Event()
    errors = []

    def compactor():
        import time as _time
        while not stop.is_set():
            try:
                engine.optimize(DB, "users")
                _time.sleep(0.1)   # a cadence, not a hot loop
            except Exception as exc:   # pragma: no cover - the failure mode
                errors.append(exc)
                return

    t = threading.Thread(target=compactor, daemon=True)
    t.start()
    try:
        for b in range(6):
            log.add(DB, "users",
                    [(b * 200 + i, f"u{b}-{i}", i % 9) for i in range(200)])
            engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors
    assert engine.read_final(DB, "users").count() == 1200
    got = {r.id for r in engine.read_final(DB, "users").select("id").collect()}
    assert got == set(range(1200))


def test_table_lock_is_reentrant_and_per_table(engine):
    lock_a = engine.table_lock("db", "t1")
    assert engine.table_lock("db", "t1") is lock_a
    assert engine.table_lock("db", "t2") is not lock_a
    with lock_a:
        with lock_a:   # re-entrant: rewrite paths nest under apply/optimize
            pass


def test_truncate_non_replicated_table_is_ignored(engine, spark, tmp_path):
    """TRUNCATE of a table that was never replicated must be skipped, not
    crash the batch (reference issue #155, tests/test_truncate_bug.py —
    with and without the TABLE keyword), and the DDL watermark must still
    advance so replays skip it."""
    engine.create_table(DB, USERS_DDL)
    log = EventLogWriter(str(tmp_path / "log"))
    log.add(DB, "users", [(1, "A", 1)])
    log.ddl(DB, "TRUNCATE TABLE not_replicated")
    log.ddl(DB, "TRUNCATE also_not_replicated")   # no TABLE keyword
    log.add(DB, "users", [(2, "B", 2)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine) == {(1, "A", 1), (2, "B", 2)}
    assert engine.last_ddl_seq(DB) >= 0


def test_create_if_not_exists_preserves_existing_table(engine, spark,
                                                       tmp_path):
    """CREATE TABLE IF NOT EXISTS over a live table keeps its data and
    watermarks (reference test_if_exists_if_not_exists)."""
    engine.create_table(DB, USERS_DDL)
    log = EventLogWriter(str(tmp_path / "log"))
    log.add(DB, "users", [(1, "A", 1)])
    log.ddl(DB, "CREATE TABLE IF NOT EXISTS `users` ("
                "id int NOT NULL, name varchar(255), age int, "
                "PRIMARY KEY (id))")
    log.add(DB, "users", [(2, "B", 2)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine) == {(1, "A", 1), (2, "B", 2)}


def test_string_primary_key_crud(engine, spark, tmp_path):
    """varchar/char(36) primary keys through the full CDC path
    (reference tests/test_mysql_ch_replicator.py
    test_string_primary_key): inserts, updates, and PK deletes must key
    on the string exactly — no numeric coercion anywhere in collapse,
    version stamping, or tombstone matching."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, """CREATE TABLE skeyed (
      code char(36) NOT NULL, qty int, PRIMARY KEY (code))""")
    log.add(DB, "skeyed", [("a-1", 1), ("b-2", 2), ("0", 3), ("00", 4)])
    log.add(DB, "skeyed", [("a-1", 10)])     # update by string key
    log.remove(DB, "skeyed", [("b-2",)])
    log.remove(DB, "skeyed", [("0",)])       # "0" must not match "00"
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert _final_rows(engine, "skeyed") == {("a-1", 10), ("00", 4)}


def test_multi_table_batch_parallel_apply(engine, spark, tmp_path):
    """A multi-table micro-batch fans the per-table write jobs out on the
    apply thread pool (r4 verdict #5: the sequential loop serializes small
    writes at hundreds of tables/batch): with apply_parallelism > 1 the
    table applies must run on >1 distinct worker thread, counters must not
    lose increments to the read-modify-write race, and every table must
    converge exactly as the sequential path does."""
    import threading

    log = EventLogWriter(str(tmp_path / "log"))
    tables = [f"t{i}" for i in range(6)]
    for t in tables:
        engine.create_table(DB, f"""CREATE TABLE {t} (
          id int NOT NULL, val varchar(32), PRIMARY KEY (id))""")
        log.add(DB, t, [(1, f"{t}-a"), (2, f"{t}-b")])
        log.remove(DB, t, [(2,)])

    seen_threads = set()
    orig = engine._apply_table_rows

    def spy(db, table, rows):
        seen_threads.add(threading.current_thread().name)
        return orig(db, table, rows)

    engine._apply_table_rows = spy
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    engine._apply_table_rows = orig

    assert len(seen_threads) > 1, seen_threads
    assert all(n.startswith("apply-table") for n in seen_threads)
    for t in tables:
        assert _final_rows(engine, t) == {(1, f"{t}-a")}
    # counters survived concurrent increments: after in-batch collapse the
    # final ops per table are 1 ADD (key 1) + 1 REMOVE (key 2 annihilated
    # to a tombstone)
    assert engine.stats.insert_records_count == len(tables)
    assert engine.stats.erase_records_count == len(tables)


def test_apply_parallelism_one_stays_sequential(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.apply_parallelism = 1
    for t in ("s0", "s1"):
        engine.create_table(DB, f"""CREATE TABLE {t} (
          id int NOT NULL, val varchar(32), PRIMARY KEY (id))""")
        log.add(DB, t, [(1, t)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    for t in ("s0", "s1"):
        assert _final_rows(engine, t) == {(1, t)}


def test_reader_survives_concurrent_optimize(engine, spark, tmp_path):
    """Snapshot isolation during compaction (r4 verdict #8): a DataFrame
    planned BEFORE optimize() pins the old generation's files; the
    manifest publish retires that generation without deleting it, so the
    pre-compaction read still collects correctly AFTER the swap — the
    failure mode the old rename-swap protocol couldn't avoid. The retired
    generation is reclaimed by the NEXT rewrite (bounded garbage)."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(i, f"u{i}", i % 50) for i in range(1, 101)])
    log.add(DB, "users", [(i, f"upd{i}", 99) for i in range(1, 51)])
    log.remove(DB, "users", [(i,) for i in range(90, 101)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    engine.generation_retention_s = 0.0      # immediate-reclaim semantics
    pre = engine.read_final(DB, "users")     # plan + file listing pinned
    pre_raw = engine.read_raw(DB, "users")   # includes superseded versions
    old_dir = engine._data_dir(DB, "users")

    engine.optimize(DB, "users")
    new_dir = engine._data_dir(DB, "users")
    assert new_dir != old_dir                # generation advanced
    assert os.path.isdir(old_dir)            # retired, NOT deleted

    expected = {(i, f"upd{i}" if i <= 50 else f"u{i}")
                for i in range(1, 90)}
    # pre-compaction frames still collect, with pre-compaction semantics
    assert {(r.id, r.name) for r in pre.select("id", "name").collect()} \
        == expected
    # one batch → in-batch collapse already ran: one final op per key
    # (89 surviving ADDs + 11 tombstones)
    assert pre_raw.count() == 100
    # post-compaction reads see the collapsed generation
    post = engine.read_final(DB, "users")
    assert {(r.id, r.name) for r in post.select("id", "name").collect()} \
        == expected
    assert engine.read_raw(DB, "users").count() == 89   # collapsed

    # the NEXT rewrite reclaims the retired generation
    engine.optimize(DB, "users")
    assert not os.path.exists(old_dir)
    manifest = engine._load_generations(DB, "users")
    assert len(manifest["retired"]) <= 1


def test_truncate_preserves_inflight_readers(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1), (2, "B", 2)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    pre = engine.read_final(DB, "users")
    engine.execute_ddl(DB, "TRUNCATE TABLE users")
    assert engine.read_final(DB, "users").count() == 0
    assert pre.count() == 2                  # old generation still on disk


def test_generation_crash_recovery_and_legacy_upgrade(engine, spark,
                                                      tmp_path):
    """Manifest-protocol crash windows: (a) a rewrite that died after
    writing its generation dir but BEFORE the manifest flip leaves an
    orphan — reads keep serving the current generation and the next
    publish sweeps the orphan without ever reusing its name; (b) a
    pre-manifest (legacy) table with a bare `data` dir reads and rewrites
    seamlessly — the first rewrite upgrades it to the manifest layout."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1), (2, "B", 2)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    engine.generation_retention_s = 0.0
    tdir = engine._table_dir(DB, "users")
    # legacy layout: no manifest yet, current resolves to "data"
    assert not os.path.exists(os.path.join(tdir, "_generations.json"))
    assert engine._data_dir(DB, "users").endswith("/data")

    # (a) simulated crash: an unpublished generation dir full of junk
    orphan = os.path.join(tdir, "data.gen7")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert _final_rows(engine) == {(1, "A", 1), (2, "B", 2)}  # unaffected

    engine.optimize(DB, "users")  # first manifest publish
    manifest = engine._load_generations(DB, "users")
    assert manifest["current"].startswith("data.gen")
    assert manifest["current"] != "data.gen7"    # dirty name never reused
    assert not os.path.exists(orphan)            # orphan swept
    assert [r["name"] for r in manifest["retired"]] == ["data"]
    assert _final_rows(engine) == {(1, "A", 1), (2, "B", 2)}

    # (b) next rewrite reclaims the legacy dir
    engine.optimize(DB, "users")
    assert not os.path.exists(os.path.join(tdir, "data"))
    assert _final_rows(engine) == {(1, "A", 1), (2, "B", 2)}


def test_rename_column_is_metadata_only(engine, spark, tmp_path):
    """RENAME COLUMN flips the column mapping, not the data (Delta-style;
    r4 verdict missing #2: the rewrite was O(table)): same generation dir
    after the DDL, reads serve the new logical name, subsequent CDC
    appends land in the old physical column, and a later MODIFY rewrite
    normalizes the mapping away."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "Ivan", 42), (2, "Petr", 33)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    gen_before = engine._data_dir(DB, "users")

    engine.execute_ddl(DB, "ALTER TABLE users RENAME COLUMN name TO fullname")
    assert engine._data_dir(DB, "users") == gen_before     # no rewrite
    st = engine.structure(DB, "users")
    assert st.field("fullname").physical == "name"
    assert {(r.id, r.fullname) for r in
            engine.read_final(DB, "users").select("id", "fullname")
            .collect()} == {(1, "Ivan"), (2, "Petr")}

    # CDC after the rename: payloads stay positional, files get the
    # physical column, reads map it back
    log2 = EventLogWriter(str(tmp_path / "log2"))
    log2._seq = 100
    log2.add(DB, "users", [(3, "Anya", 25)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log2")))
    assert {(r.id, r.fullname) for r in
            engine.read_final(DB, "users").select("id", "fullname")
            .collect()} == {(1, "Ivan"), (2, "Petr"), (3, "Anya")}

    # a MODIFY rewrite normalizes: mapping gone, logical file columns
    engine.execute_ddl(DB, "ALTER TABLE users MODIFY age bigint")
    st2 = engine.structure(DB, "users")
    assert all(f.physical is None for f in st2.fields)
    raw_cols = spark.read.option("mergeSchema", "true").parquet(
        engine._data_dir(DB, "users")).columns
    assert "fullname" in raw_cols and "name" not in raw_cols


def test_add_column_does_not_resurrect_renamed_physical(engine, spark,
                                                        tmp_path):
    """ADD COLUMN `name` after `name` was renamed away: the stale physical
    bytes must NOT leak into the new logical column."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "Ivan", 42)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    engine.execute_ddl(DB, "ALTER TABLE users RENAME COLUMN name TO fullname")
    engine.execute_ddl(DB, "ALTER TABLE users ADD COLUMN name varchar(64)")

    st = engine.structure(DB, "users")
    assert st.field("name").physical not in (None, "name")  # remapped
    row = engine.read_final(DB, "users").collect()[0]
    assert row.fullname == "Ivan" and row.name is None

    # and the re-added column is writable
    log2 = EventLogWriter(str(tmp_path / "log2"))
    log2._seq = 100
    log2.add(DB, "users", [(2, "Petr", 33, "P. Petrov")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log2")))
    got = {(r.id, r.fullname, r.name) for r in
           engine.read_final(DB, "users")
           .select("id", "fullname", "name").collect()}
    assert got == {(1, "Ivan", None), (2, "Petr", "P. Petrov")}


def test_optimize_normalizes_column_mapping(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "Ivan", 42)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    engine.execute_ddl(DB, "ALTER TABLE users RENAME COLUMN name TO fullname")
    engine.optimize(DB, "users")
    st = engine.structure(DB, "users")
    assert all(f.physical is None for f in st.fields)
    assert {(r.id, r.fullname) for r in
            engine.read_final(DB, "users").select("id", "fullname")
            .collect()} == {(1, "Ivan")}


def test_sharded_resnapshot_normalizes_column_mapping(engine, spark,
                                                      tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "Ivan", 42)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    engine.execute_ddl(DB, "ALTER TABLE users RENAME COLUMN name TO fullname")
    snap = spark.createDataFrame(
        [(i, f"u{i}", i % 9) for i in range(1, 40)],
        "id int, fullname string, age int")
    engine.snapshot_table_sharded(DB, "users", snap, workers=2)
    st = engine.structure(DB, "users")
    assert all(f.physical is None for f in st.fields)
    got = {(r.id, r.fullname) for r in
           engine.read_final(DB, "users").select("id", "fullname").collect()}
    assert got == {(i, f"u{i}") for i in range(1, 40)}


def test_vacuum_reclaims_retired_generations(engine, spark, tmp_path):
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1), (2, "B", 2)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    old_dir = engine._data_dir(DB, "users")
    engine.optimize(DB, "users")            # retires old_dir (retention 60s)
    assert os.path.isdir(old_dir)
    engine.vacuum(DB, "users")              # default retention: kept
    assert os.path.isdir(old_dir)
    engine.vacuum(DB, "users", retention_s=0)   # force-reclaim
    assert not os.path.exists(old_dir)
    manifest = engine._load_generations(DB, "users")
    assert manifest["retired"] == []
    assert _final_rows(engine) == {(1, "A", 1), (2, "B", 2)}


def test_generation_cache_sees_other_engines_publishes(engine, spark,
                                                       tmp_path):
    """Two engine instances over one replica root (the multi-source
    deployment): engine B's mtime-keyed manifest cache must pick up a
    generation published by engine A immediately."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    log.add(DB, "users", [(1, "A", 1)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    other = ReplicaEngine(spark, engine.root)
    assert other._data_dir(DB, "users") == engine._data_dir(DB, "users")
    engine.optimize(DB, "users")     # publishes a new generation
    assert other._data_dir(DB, "users") == engine._data_dir(DB, "users")
    assert other._data_dir(DB, "users").endswith("data.gen1")


def test_parallel_apply_partial_failure_replay_converges(engine, spark,
                                                         tmp_path):
    """foreachBatch is at-least-once: if ONE table's write job fails mid
    parallel fan-out, the batch errors and is replayed wholesale — tables
    that already committed must skip via their seq replay guard, the
    failed table must apply, and nothing double-applies."""
    log = EventLogWriter(str(tmp_path / "log"))
    tables = ["p0", "p1", "p2", "p3"]
    for t in tables:
        engine.create_table(DB, f"""CREATE TABLE {t} (
          id int NOT NULL, val varchar(32), PRIMARY KEY (id))""")
        log.add(DB, t, [(1, f"{t}-a"), (2, f"{t}-b")])
    batch = read_event_log(spark, str(tmp_path / "log"))

    orig = engine._apply_table_rows
    calls = {"n": 0}

    def flaky(db, table, rows):
        if table == "p2" and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected write failure")
        return orig(db, table, rows)

    engine._apply_table_rows = flaky
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected"):
        engine.apply_batch(batch)
    # replay (the streaming engine's retry): converges, no duplicates
    engine.apply_batch(batch)
    engine._apply_table_rows = orig

    for t in tables:
        rows = engine.read_final(DB, t).collect()
        assert {(r.id, r.val) for r in rows} == \
            {(1, f"{t}-a"), (2, f"{t}-b")}, t
        # replay guard: versions not double-stamped (raw store has exactly
        # one row per key)
        assert engine.read_raw(DB, t).count() == 2, t


def test_repair_table_converges_diverged_buckets(engine, spark, tmp_path):
    """Anti-entropy repair (engine.repair_table): seed a replica that has
    drifted from the source (missing rows, stale values, phantom rows),
    then repair. The replica must converge to the source exactly, the
    delta must be O(diverged buckets) — rows in untouched buckets keep
    their original _version (they were not rewritten) — and a second
    repair must be a no-op."""
    log = EventLogWriter(str(tmp_path / "log"))
    engine.create_table(DB, USERS_DDL)
    # replica state: 0..49 at v1, row 7 stale, row 999 phantom, 25 missing
    rows = [(i, f"u{i}", i % 80) for i in range(50) if i != 25]
    rows = [(7, "stale", 0) if r[0] == 7 else r for r in rows]
    rows.append((999, "phantom", 1))
    log.add(DB, "users", rows)
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    source = spark.createDataFrame(
        [(i, f"u{i}", i % 80) for i in range(50)],
        "id int, name string, age int")

    before_v = {r.id: r._version for r in
                engine.read_raw(DB, "users").collect()}
    report = engine.repair_table(DB, "users", source, n_buckets=16)

    assert report["buckets"]                       # something diverged
    assert len(report["buckets"]) < 16             # ...but not everything
    assert report["removed"] == 1                  # the phantom row
    got = _final_rows(engine)
    assert got == {(i, f"u{i}", i % 80) for i in range(50)}

    # untouched-bucket rows were NOT rewritten (same stored version)
    from mysql_ch_replicator_spark.operators.replica import bucket_expr
    bucket_py = {r.id: r.b for r in source.select(
        "id", bucket_expr(["id"], 16).alias("b")).collect()}
    after_v = {r.id: r._version for r in
               engine.read_raw(DB, "users").collect()}
    untouched = [i for i in bucket_py
                 if bucket_py[i] not in report["buckets"]]
    assert untouched
    for i in untouched:
        assert after_v[i] == before_v[i], i

    # convergence: a second repair finds nothing
    report2 = engine.repair_table(DB, "users", source, n_buckets=16)
    assert report2 == {"buckets": [], "removed": 0, "upserted": 0}
