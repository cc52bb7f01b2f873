"""Per-table index overrides (S8) — the reference attaches a
bloom_filter skip index on a single PK by default plus any configured
``indexes`` (clickhouse_api.py:253–261); the parquet analog is
per-column bloom filters via writer options. Verified functionally:
same rows, same layout → the bloom-filtered file is strictly larger
(the filter bytes), and reads are unaffected."""

import os

from mysql_ch_replicator_spark.config import Settings
from mysql_ch_replicator_spark.engine import ReplicaEngine
from mysql_ch_replicator_spark.sources.event_log import (
    EventLogWriter, read_event_log,
)

DDL = """CREATE TABLE users (
  id int NOT NULL, name varchar(255), PRIMARY KEY (id))"""

COMPOSITE_DDL = """CREATE TABLE pairs (
  a int NOT NULL, b int NOT NULL, name varchar(255),
  PRIMARY KEY (a, b))"""


def test_index_option_mapping(spark, tmp_path):
    settings = Settings.load({"indexes": {"users": ["name"]}})
    engine = ReplicaEngine(spark, str(tmp_path / "r"), settings=settings)
    st = engine.create_table("db", DDL)
    opts = engine._writer_options("users", st, ["id", "name", "_version"])
    # zstd on every column; single PK → bloom on id by default (reference
    # idx_id), plus override; any bloom column sizes its filter to the
    # file (adaptive)
    assert opts == {"compression": "zstd",
                    "parquet.bloom.filter.enabled#id": "true",
                    "parquet.bloom.filter.enabled#name": "true",
                    "parquet.bloom.filter.adaptive.enabled": "true"}
    # columns absent from the frame are dropped (e.g. mid-rename rewrite)
    assert engine._writer_options("users", st, ["name"]) == \
        {"compression": "zstd",
         "parquet.bloom.filter.enabled#name": "true",
         "parquet.bloom.filter.adaptive.enabled": "true"}


def test_composite_pk_gets_no_default_bloom(spark, tmp_path):
    engine = ReplicaEngine(spark, str(tmp_path / "r"))
    st = engine.create_table("db", COMPOSITE_DDL)
    assert engine._writer_options("pairs", st, ["a", "b", "name"]) == \
        {"compression": "zstd"}


def _parquet_files(d):
    return {os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
            if f.endswith(".parquet")}


def _dir_bytes(d):
    return sum(os.path.getsize(f) for f in _parquet_files(d))


def test_bloom_filter_actually_written(spark, tmp_path):
    """Same data through two engines — with and without the PK bloom —
    must produce byte-different files (the filter is real, not a no-op
    option), and the indexed replica still reads exactly."""
    rows = [(i, f"name{i}") for i in range(5000)]

    def build(root, ddl_table_name):
        engine = ReplicaEngine(spark, root)
        engine.create_table("db", DDL)
        log = EventLogWriter(root + "_log")
        log.add("db", "users", rows)
        engine.apply_batch(read_event_log(spark, root + "_log"))
        return engine

    engine = build(str(tmp_path / "with"), "users")
    with_bloom = _dir_bytes(engine._data_dir("db", "users"))

    engine2 = ReplicaEngine(spark, str(tmp_path / "without"))
    engine2._index_options = lambda *a, **k: {}
    engine2.create_table("db", DDL)
    log = EventLogWriter(str(tmp_path / "without_log"))
    log.add("db", "users", rows)
    engine2.apply_batch(read_event_log(spark, str(tmp_path / "without_log")))
    without_bloom = _dir_bytes(engine2._data_dir("db", "users"))

    assert with_bloom > without_bloom
    assert engine.read_final("db", "users").count() == 5000


def test_bloom_filter_sized_to_its_file(spark, tmp_path):
    """A CDC append's PK bloom filter is sized to the rows in its file,
    not to parquet's 1M-distinct-value default (~1 MB per file), and a
    point read through it still finds its row."""
    from pyspark.sql import functions as F

    engine = ReplicaEngine(spark, str(tmp_path / "r"))
    engine.create_table("db", DDL)
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db", "users", [(i, f"name{i}") for i in range(2000)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    data = engine._data_dir("db", "users")
    sizes = [os.path.getsize(os.path.join(data, f))
             for f in os.listdir(data) if f.endswith(".parquet")]
    assert sizes and all(s < 200_000 for s in sizes), sizes
    final = engine.read_final("db", "users")
    assert [r.name for r in final.where(F.col("id") == 1234).collect()] \
        == ["name1234"]
    assert final.where(F.col("id") == 5000).count() == 0


AGE_DDL = """CREATE TABLE users (
  id int NOT NULL, name varchar(255), age int, PRIMARY KEY (id))"""


def _bloom_columns(spark, path):
    """Columns of ``path`` that carry a bloom filter in every row group
    (pyarrow does not expose the filter offsets; parquet-mr does)."""
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path),
            spark._jsc.hadoopConfiguration()))
    try:
        blocks = list(reader.getFooter().getBlocks())
        return set.intersection(*(
            {c.getPath().toDotString() for c in b.getColumns()
             if c.getBloomFilterOffset() >= 0} for b in blocks))
    finally:
        reader.close()


def test_every_replica_write_is_zstd(spark, tmp_path):
    """Every path that writes replica data compresses every column chunk
    with ZSTD, and the single-PK bloom filter stays where it was: the CDC
    append, snapshot_table, a 2-worker sharded snapshot, optimize, an
    ALTER … MODIFY rewrite and a maintained-aggregate view (no PK
    column in the view, so no bloom)."""
    import pyarrow.parquet as pq

    engine = ReplicaEngine(spark, str(tmp_path / "r"))
    engine.create_table("db", AGE_DDL)
    src = spark.createDataFrame([(i, f"u{i}", i % 7) for i in range(500)],
                                "id int, name string, age int")
    written = {}

    def step(name, do, d=lambda: engine._data_dir("db", "users")):
        before = _parquet_files(d()) if os.path.isdir(d()) else set()
        do()
        written[name] = _parquet_files(d()) - before
        assert written[name], name

    step("snapshot", lambda: engine.snapshot_table("db", "users", src))
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db", "users", [(i, f"v{i}", 1) for i in range(480, 520)])
    step("cdc_append", lambda: engine.apply_batch(
        read_event_log(spark, str(tmp_path / "log"))))
    step("optimize", lambda: engine.optimize("db", "users"))
    step("modify", lambda: engine.execute_ddl(
        "db", "ALTER TABLE users MODIFY age bigint"))
    step("aggregate", lambda: engine.register_aggregate(
        "db", "users", "by_age", "age", "id"),
        d=lambda: engine._agg_dir("db", "users", "by_age"))
    engine.create_table("sh", AGE_DDL)
    step("sharded", lambda: engine.snapshot_table_sharded(
        "sh", "users", src, workers=2),
        d=lambda: engine._data_dir("sh", "users"))

    for name, files in written.items():
        for f in files:
            md = pq.ParquetFile(f).metadata
            codecs = {md.row_group(g).column(c).compression
                      for g in range(md.num_row_groups)
                      for c in range(md.num_columns)}
            assert codecs == {"ZSTD"}, (name, f, codecs)
            blooms = _bloom_columns(spark, f)
            if name == "aggregate":
                assert "id" not in blooms, f
            else:
                assert "id" in blooms, (name, f, blooms)
    assert engine.read_final("db", "users").count() == 520
    assert engine.read_final("sh", "users").count() == 500
