"""Round-14 (optimization round 2) focused pins: descriptor-carried
engine read schemas and pagerank's iteration-local cache lifecycle —
each guards an optimization that changed operator internals this round
(round rules: add a focused test when an optimization changes an
operator's internals)."""

from __future__ import annotations

SF = "/root/testdata/sf0.01"


def _job_count(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []
    return len(ids)


def _mk_engine(spark, root):
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    return ReplicaEngine(spark, str(root))


def _seed_table(spark, eng, tmp_path, tag="log"):
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )
    eng.create_table("db", """CREATE TABLE users (
        id int NOT NULL,
        name varchar(64),
        PRIMARY KEY (id))""")
    log = EventLogWriter(str(tmp_path / tag))
    log.add("db", "users", [(i, f"u{i}") for i in range(32)])
    eng.apply_batch(read_event_log(spark, str(tmp_path / tag)))


def test_engine_read_schema_survives_restart(spark, tmp_path):
    """r14: the live-read union schema is persisted into the table meta
    (``read_schema``) at first inference, so a FRESH engine instance on
    the same root reads with ZERO inference jobs — the r13 in-memory
    cache paid one footer sweep per engine process. The pinned read
    must stay value-identical to the first engine's."""
    eng1 = _mk_engine(spark, tmp_path / "replica")
    _seed_table(spark, eng1, tmp_path)
    first = sorted(map(tuple, eng1.read_final("db", "users").collect()))
    meta = eng1.load_meta("db", "users")
    blob = meta.get("read_schema")
    assert blob and blob.get("token") and blob.get("schema"), \
        "first read must persist the inferred schema into meta"

    # fresh engine = restart; its first read must plan from the meta
    # blob without launching a mergeSchema inference job
    eng2 = _mk_engine(spark, tmp_path / "replica")
    j0 = _job_count(spark)
    df = eng2.read_raw("db", "users")
    assert _job_count(spark) == j0, \
        "restart read must not launch a schema-inference job"
    assert sorted(map(tuple,
                      eng2.read_final("db", "users").collect())) == first


def test_engine_read_schema_blob_invalidated_by_ddl(spark, tmp_path):
    """A DDL rewrites meta['structure'], so the persisted blob's token
    mismatches and the next read re-infers (and re-persists) — ADD
    COLUMN must surface on a fresh engine, never be hidden by a stale
    pinned schema."""
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    eng1 = _mk_engine(spark, tmp_path / "replica")
    _seed_table(spark, eng1, tmp_path)
    eng1.read_final("db", "users").collect()   # persists the blob
    tok0 = eng1.load_meta("db", "users")["read_schema"]["token"]
    ddl = EventLogWriter(str(tmp_path / "ddl"))
    ddl.ddl("db", "ALTER TABLE users ADD COLUMN age int")
    eng1.apply_batch(read_event_log(spark, str(tmp_path / "ddl")))
    eng2 = _mk_engine(spark, tmp_path / "replica")
    df = eng2.read_final("db", "users")
    assert "age" in df.columns
    assert [r.age for r in df.collect()] == [None] * 32
    tok1 = eng2.load_meta("db", "users")["read_schema"]["token"]
    assert tok1 != tok0, "DDL must rotate the read-schema token"


def test_pagerank_bounded_transient_registrations(spark):
    """r14 (ADVICE r13): pagerank manages intermediate rank caches
    iteration-locally — at ANY iteration count it registers at most 3
    entries in the shared transient FIFO (edges, nodes, the last
    intermediate), so a long chain can no longer evict its own working
    caches mid-computation, and a caller-persisted edges frame is not
    re-registered."""
    from mysql_ch_replicator_spark import cache
    from mysql_ch_replicator_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 7, 1) for i in range(30)],
        "s long, t long, wt long")
    cache.release_transient_caches()
    ranks = pagerank(edges, iterations=6)
    n_registered = len(cache._TRANSIENT)
    assert n_registered <= 3, \
        f"pagerank registered {n_registered} transient caches"
    rows = {r.node: int(r.rank) for r in ranks.collect()}
    assert len(rows) == 7 and all(v > 0 for v in rows.values())

    # caller-persisted edges: used as-is, still not over-registered
    cache.release_transient_caches()
    e2 = edges.persist()
    try:
        pagerank(e2, iterations=3).collect()
        assert e2.storageLevel.useMemory, \
            "caller-persisted edges must survive pagerank"
        assert all(df is not e2 for df in cache._TRANSIENT), \
            "caller-persisted edges must not enter the FIFO"
    finally:
        e2.unpersist()
    cache.release_transient_caches()
