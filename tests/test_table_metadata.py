"""Table metadata (``_meta.json``): the code that writes a table's files
records their schema (``file_schema``), every change goes through
``ReplicaEngine.update_meta``, and no read path writes any file."""

from __future__ import annotations

import os

import pytest

from mysql_ch_replicator_spark.config import Settings
from mysql_ch_replicator_spark.engine import ReplicaEngine
from mysql_ch_replicator_spark.sources.event_log import (
    EventLogWriter, read_event_log,
)

DB = "db"
DDL = """CREATE TABLE users (
  id int NOT NULL, name varchar(64), PRIMARY KEY (id))"""


def _job_count(spark) -> int:
    return len(spark.sparkContext.statusTracker()
               .getJobIdsForGroup(None) or [])


def _tree(path) -> dict:
    """Every file under ``path`` with its size and mtime."""
    out = {}
    for sub, _dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(sub, fn)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _apply(spark, engine, tmp_path, tag, seq, fill):
    log = EventLogWriter(str(tmp_path / tag))
    log._seq = seq
    fill(log)
    engine.apply_batch(read_event_log(spark, str(tmp_path / tag)))


def test_partition_column_keeps_declared_string_type(spark, tmp_path):
    """A varchar partition column reads back as written: its type comes
    from the written frame, not from the partition directory names, so
    '007' and '010' do not come back as '7' and '10' — in a time-travel
    read of the generation a compaction retired too."""
    engine = ReplicaEngine(spark, str(tmp_path / "replica"),
                           settings=Settings.load(
                               {"partition_bys": {"t": ["code"]}}))
    engine.create_table(DB, """CREATE TABLE t (
      id int NOT NULL, code varchar(8), PRIMARY KEY (id))""")
    engine.snapshot_table(DB, "t", spark.createDataFrame(
        [(1, "007"), (2, "abc")], "id int, code string"))
    assert {r.code for r in engine.read_final(DB, "t").collect()} == \
        {"007", "abc"}
    engine.snapshot_table(DB, "t", spark.createDataFrame(
        [(1, "007"), (2, "010")], "id int, code string"))
    _apply(spark, engine, tmp_path, "log", 100,
           lambda log: log.add(DB, "t", [(3, "042")]))
    want = {1: "007", 2: "010", 3: "042"}
    got = {r.id: r.code for r in engine.read_final(DB, "t").collect()}
    assert got == want
    engine.optimize(DB, "t")
    current, retired = engine.list_generations(DB, "t")[:2]
    assert current["current"] and not retired["current"]
    for gen in (current["name"], retired["name"]):
        got = {r.id: r.code
               for r in engine.read_final(DB, "t", generation=gen).collect()}
        assert got == want, gen


@pytest.mark.parametrize("workers", [1, 2])
def test_snapshot_without_a_declared_column_keeps_it_readable(
        spark, tmp_path, workers):
    """A snapshot frame that lacks a declared column still records it in
    ``file_schema``: a later CDC value of that column reads back, before
    and after a compaction rewrites the table from its reads."""
    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table(DB, DDL)
    engine.snapshot_table_sharded(DB, "users", spark.createDataFrame(
        [(1,), (2,)], "id int"), workers=workers)
    _apply(spark, engine, tmp_path, "log", 100,
           lambda log: log.add(DB, "users", [(3, "c")]))
    want = {1: None, 2: None, 3: "c"}
    assert {r.id: r.name for r in engine.read_final(DB, "users").collect()} \
        == want
    engine.optimize(DB, "users")
    assert {r.id: r.name for r in engine.read_final(DB, "users").collect()} \
        == want


@pytest.mark.parametrize("workers", [1, 2])
def test_snapshot_writes_the_declared_types(spark, tmp_path, workers):
    """A snapshot frame whose column type differs from the declared one
    (``int`` for a declared ``bigint``) is written in the declared type,
    as the CDC apply writes it: ``file_schema`` equals the declared
    schema, and the snapshot's and the CDC's files read back together,
    before and after a compaction."""
    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table(DB, """CREATE TABLE t (
      id int NOT NULL, v bigint, PRIMARY KEY (id))""")
    declared = engine.load_meta(DB, "t")["file_schema"]
    engine.snapshot_table_sharded(DB, "t", spark.createDataFrame(
        [(1, 10), (2, 20)], "id int, v int"), workers=workers)
    assert engine.load_meta(DB, "t")["file_schema"] == declared
    _apply(spark, engine, tmp_path, "log", 100,
           lambda log: log.add(DB, "t", [(3, 30)]))
    want = {1: 10, 2: 20, 3: 30}
    assert {r.id: r.v for r in engine.read_final(DB, "t").collect()} == want
    engine.optimize(DB, "t")
    assert {r.id: r.v for r in engine.read_final(DB, "t").collect()} == want


def test_second_engine_reads_never_write(spark, tmp_path):
    """A second engine on the writer's root reads between the writer's
    applies, an ADD COLUMN and a MODIFY. Its reads change no file (the
    meta bytes included), the watermarks it sees never regress, and its
    first read after the ADD COLUMN, like a freshly started engine's
    read, plans with zero Spark jobs."""
    root = str(tmp_path / "replica")
    writer = ReplicaEngine(spark, root)
    reader = ReplicaEngine(spark, root)
    writer.create_table(DB, DDL)
    meta_path = os.path.join(root, DB, "users", "_meta.json")
    seen = {"last_seq": -1, "last_version": 0}

    def read_all():
        with open(meta_path, "rb") as fh:
            meta_bytes = fh.read()
        tree = _tree(root)
        rows = reader.read_final(DB, "users").drop("_version").collect()
        reader.read_raw(DB, "users").collect()
        reader.read_asof(DB, "users", 1).collect()
        reader.list_generations(DB, "users")
        with open(meta_path, "rb") as fh:
            assert fh.read() == meta_bytes
        assert _tree(root) == tree
        meta = reader.load_meta(DB, "users")
        for k in seen:
            assert meta[k] >= seen[k], (k, meta[k], seen[k])
            seen[k] = meta[k]
        return sorted(map(tuple, rows))

    _apply(spark, writer, tmp_path, "log0", 0, lambda log: log.add(
        DB, "users", [(i, f"u{i}") for i in range(8)]))
    assert len(read_all()) == 8
    _apply(spark, writer, tmp_path, "log1", 100,
           lambda log: log.add(DB, "users", [(1, "v1")]))
    assert (1, "v1") in read_all()

    _apply(spark, writer, tmp_path, "log2", 200, lambda log: (
        log.ddl(DB, "ALTER TABLE users ADD COLUMN age int"),
        log.add(DB, "users", [(9, "u9", 30)])))
    j0 = _job_count(spark)
    df = reader.read_final(DB, "users")
    assert _job_count(spark) == j0, "a read must not infer the schema"
    assert {r.id: r.age for r in df.collect()} == \
        {**{i: None for i in range(8)}, 9: 30}
    read_all()

    _apply(spark, writer, tmp_path, "log3", 300, lambda log: (
        log.ddl(DB, "ALTER TABLE users MODIFY age bigint"),
        log.add(DB, "users", [(10, "u10", 2 ** 40)])))
    rows = read_all()
    assert (10, "u10", 2 ** 40) in rows and (9, "u9", 30) in rows
    assert reader.structure(DB, "users").field("age").base_type == "bigint"

    restarted = ReplicaEngine(spark, root)
    j0 = _job_count(spark)
    df = restarted.read_final(DB, "users").drop("_version")
    assert _job_count(spark) == j0
    assert sorted(map(tuple, df.collect())) == rows


def test_drop_then_add_column_keeps_old_bytes_hidden(spark, tmp_path):
    """DROP COLUMN leaves the column's bytes in the files; a later ADD
    COLUMN of the same name must not read them back."""
    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table(DB, """CREATE TABLE users (
      id int NOT NULL, name varchar(64), c int, PRIMARY KEY (id))""")
    _apply(spark, engine, tmp_path, "log0", 0, lambda log: log.add(
        DB, "users", [(1, "a", 11), (2, "b", 22)]))
    engine.execute_ddl(DB, "ALTER TABLE users DROP COLUMN c")
    engine.execute_ddl(DB, "ALTER TABLE users ADD COLUMN c int")
    assert {r.id: r.c for r in engine.read_final(DB, "users").collect()} \
        == {1: None, 2: None}
    _apply(spark, engine, tmp_path, "log1", 100,
           lambda log: log.add(DB, "users", [(3, "c", 33)]))
    assert {r.id: r.c for r in engine.read_final(DB, "users").collect()} \
        == {1: None, 2: None, 3: 33}
