"""Coalescing index maintenance (r9 verdict #1b/#6/#7): CDC batches flow
to the replica at full cadence; a MaintainedIndex absorbs the window
since its watermark in ONE upsert on the scheduler cadence, with the
staleness bounded and monitored and the crash/compaction contracts
pinned here."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mysql_ch_replicator_spark import fsutil
from mysql_ch_replicator_spark.engine import ReplicaEngine
from mysql_ch_replicator_spark.indexmaint import MAINT_STATE, MaintainedIndex
from mysql_ch_replicator_spark.monitoring import index_freshness
from mysql_ch_replicator_spark.optimizer import ReplicaOptimizer
from mysql_ch_replicator_spark.sources.event_log import (
    EventLogWriter, read_event_log,
)

DOCS_DDL = """CREATE TABLE docs (
  doc_id bigint NOT NULL, body varchar(2000), PRIMARY KEY (doc_id))"""

VECS_DDL = """CREATE TABLE vecs (
  vec_id bigint NOT NULL, emb varchar(300), PRIMARY KEY (vec_id))"""


class FakeClock:
    def __init__(self, t=1000.0):
        self.t = t

    def __call__(self):
        return self.t


class _Rig:
    """Engine + ONE event-log writer (seqs must keep ascending across
    batches — a fresh writer restarts at 0 and the replay guard skips
    the whole batch)."""

    def __init__(self, spark, tmp_path, ddl, table):
        self.spark = spark
        self.table = table
        self.log_dir = str(tmp_path / "log")
        self.engine = ReplicaEngine(spark, str(tmp_path / "replica"))
        self.engine.create_table("db1", ddl)
        self.log = EventLogWriter(self.log_dir)

    def apply(self, adds=(), removes=()):
        if adds:
            self.log.add("db1", self.table, list(adds))
        if removes:
            self.log.remove("db1", self.table, [(r,) for r in removes])
        # replay-guarded: re-reading the whole log only applies new seqs
        self.engine.apply_batch(read_event_log(self.spark, self.log_dir))


def _docs_rig(spark, tmp_path):
    rig = _Rig(spark, tmp_path, DOCS_DDL, "docs")
    rig.apply(adds=[(i, f"alpha beta w{i % 5} gamma{i % 3}")
                    for i in range(24)])
    return rig


def _lex_probe(spark, path):
    from mysql_ch_replicator_spark.operators.retrieval import \
        bm25_indexed_topk
    return sorted(tuple(r) for r in
                  bm25_indexed_topk(spark, path, ["alpha", "w1", "delta"],
                                    k=30).collect())


def test_lexical_coalesced_apply_and_freshness(spark, tmp_path):
    """Three CDC batches coalesce into ONE index upsert when the lag
    threshold elapses; before that the maintainer is not due and the
    index stays at its watermark (the documented staleness contract).
    After the apply the index equals a from-scratch build of the final
    state, and index_freshness reads zero versions behind."""
    from mysql_ch_replicator_spark.operators.retrieval import \
        write_lexical_index

    rig = _docs_rig(spark, tmp_path)
    engine = rig.engine
    clock = FakeClock()
    path = str(tmp_path / "lexidx")
    ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                         payload_col="body", max_lag_seconds=30.0,
                         clock=clock, shards=4, span_width=8)
    ix.build()
    assert not ix.due()

    # three replica batches at full cadence — index untouched meanwhile
    rig.apply(adds=[(100, "delta epsilon"), (101, "delta zeta")])
    rig.apply(adds=[(5, "alpha rewritten w1")], removes=[7])
    rig.apply(removes=[101, 11])
    s = ix.status()
    assert s["versions_behind"] == 3
    assert not ix.due()                      # lag threshold not elapsed
    clock.t += 31
    assert ix.due()

    r = ix.maybe_apply()
    assert r["applied"] and r["versions"] == 3 and not r["reconciled"]
    s2 = ix.status()
    assert s2["versions_behind"] == 0 and s2["age_seconds"] == 0.0
    assert index_freshness([ix]) == [s2]

    # the coalesced index equals a from-scratch build of the final state
    full = str(tmp_path / "full")
    write_lexical_index(
        engine.read_final("db1", "docs").select(
            F.col("doc_id"), F.col("body")),
        full, id_col="doc_id", text_col="body", shards=4, span_width=8)
    assert (json.loads(fsutil.read_text(os.path.join(path,
                                                     "_lex_meta.json")))
            == json.loads(fsutil.read_text(os.path.join(full,
                                                        "_lex_meta.json"))))
    assert _lex_probe(spark, path) == _lex_probe(spark, full)


def _new_jobs_work(spark, before: set[int]) -> tuple[int, int]:
    """(jobs, completed tasks) of the jobs started since ``before``, the
    job ids the status tracker held then. Jobs from the index's worker
    threads carry no job group, so every new job is counted."""
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    tasks = 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            si = tracker.getStageInfo(sid)
            tasks += si.numCompletedTasks if si is not None else 0
    return len(jobs), tasks


def test_lexical_apply_tasks_follow_the_data(spark, tmp_path):
    """A small lexical apply reads the frames it cached (tokenized tf,
    positions, docmeta, changed terms) in stages that adaptive execution
    sizes by their data: a handful of tasks per job, not one per
    ``spark.sql.shuffle.partitions`` slot (32) of each cached shuffle."""
    rig = _docs_rig(spark, tmp_path)
    ix = MaintainedIndex(rig.engine, "db1", "docs", str(tmp_path / "lexidx"),
                         "lexical", payload_col="body", max_lag_seconds=0.0,
                         clock=FakeClock(), shards=4, span_width=8)
    ix.build()
    rig.apply(adds=[(100, "delta epsilon"), (5, "alpha rewritten w1")],
              removes=[7])
    before = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    assert ix.apply()["applied"]
    jobs, tasks = _new_jobs_work(spark, before)
    assert jobs > 0
    assert tasks <= 3 * jobs, (jobs, tasks)


def test_crash_between_upsert_and_watermark_is_idempotent(spark, tmp_path):
    """The watermark commits strictly after the upsert; a crash between
    the two re-runs the SAME window from the old watermark and converges
    to the identical index (upserts are state-based)."""
    rig = _docs_rig(spark, tmp_path)
    engine = rig.engine
    clock = FakeClock()
    path = str(tmp_path / "lexidx")
    ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                         payload_col="body", max_lag_seconds=0.0,
                         clock=clock, shards=4, span_width=8)
    ix.build()
    pre_state = fsutil.read_text(os.path.join(path, MAINT_STATE))

    rig.apply(adds=[(200, "eta theta")], removes=[3])
    clock.t += 1
    assert ix.apply()["applied"]
    probe = _lex_probe(spark, path)
    meta = fsutil.read_text(os.path.join(path, "_lex_meta.json"))

    # simulate the crash window: upsert committed, watermark not
    fsutil.write_text(os.path.join(path, MAINT_STATE), pre_state)
    assert ix.due()
    r = ix.apply()
    assert r["applied"] and r["versions"] == 1
    assert _lex_probe(spark, path) == probe
    assert fsutil.read_text(os.path.join(path, "_lex_meta.json")) == meta


def test_reconcile_after_compaction_recovers_deletes(spark, tmp_path):
    """engine.optimize collapses tombstones; a delete committed after the
    watermark but compacted before the apply would vanish from the
    version delta. The generation recorded in the state file detects the
    rewrite and the maintainer reconciles deletes as index ids minus
    replica live ids — the removed doc leaves the index anyway."""
    rig = _docs_rig(spark, tmp_path)
    engine = rig.engine
    clock = FakeClock()
    path = str(tmp_path / "lexidx")
    ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                         payload_col="body", max_lag_seconds=0.0,
                         clock=clock, shards=4, span_width=8)
    ix.build()

    rig.apply(adds=[(300, "iota kappa")], removes=[4, 9])
    engine.optimize("db1", "docs")          # tombstones for 4/9 are gone
    clock.t += 1
    r = ix.apply()
    assert r["applied"] and r["reconciled"]

    docmeta = spark.read.parquet(os.path.join(path, "docmeta"))
    got = sorted(int(x.doc_id) for x in docmeta.select("doc_id").collect())
    want = sorted(int(x.doc_id) for x in
                  engine.read_final("db1", "docs")
                  .select("doc_id").collect())
    assert got == want and 300 in got and 4 not in got and 9 not in got


def test_ivf_maintained_index_matches_rebuild(spark, tmp_path):
    """IVF twin: embeddings live in the replica as JSON strings
    (MySQL-shaped tables have no array type) and enter the index through
    payload_expr; the coalesced upsert converges to the same membership
    a from-scratch build of the final state produces (same deterministic
    default centroids)."""
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MEMBERS, write_ivf_index)

    rig = _Rig(spark, tmp_path, VECS_DDL, "vecs")
    engine = rig.engine

    def vec(i):
        return json.dumps([float(i % 7) - 3.0, float(i % 5), 1.0])

    rig.apply(adds=[(i, vec(i)) for i in range(30)])
    clock = FakeClock()
    path = str(tmp_path / "ivfidx")
    ix = MaintainedIndex(engine, "db1", "vecs", path, "ivf",
                         payload_col="emb",
                         payload_expr=F.from_json(F.col("emb"),
                                                  "array<float>"),
                         max_lag_seconds=0.0, clock=clock, n_cells=4)
    ix.build()
    rig.apply(adds=[(50, vec(50)), (51, vec(51)), (2, vec(90))],
              removes=[5, 6])
    clock.t += 1
    assert ix.apply()["applied"]

    full = str(tmp_path / "full")
    write_ivf_index(
        engine.read_final("db1", "vecs").select(
            F.col("vec_id"),
            F.from_json(F.col("emb"), "array<float>").alias("emb")),
        full, n_cells=4, vec_col="emb", id_col="vec_id")

    def membership(p):
        return sorted((int(r.vec_id), int(r.cell)) for r in
                      spark.read.parquet(os.path.join(p, _IVF_MEMBERS))
                      .collect())

    assert membership(path) == membership(full)


def test_optimizer_drives_hot_cell_split_once_per_poll(spark, tmp_path):
    """The load-factor policy through the scheduler (r9 verdict #6): a
    synthetic hot cell trips split_load_factor on the first poll, the
    second poll is a no-op (load factor back under threshold), and probe
    results are unchanged across the split. A torn split is resumed by
    the next poll (idempotent under a mid-split crash)."""
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_SPLIT_PENDING, ivf_index_topk, read_ivf_meta)

    rig = _Rig(spark, tmp_path, VECS_DDL, "vecs")
    engine = rig.engine

    def vec(i):
        # one hot cell holding TWO tight far-out clusters + 8 spread-out
        # vectors: the first split peels the far mass off the outliers,
        # the second separates the bimodal pair — converges in exactly
        # two polls with the default deterministic centroids
        if i < 20:
            return json.dumps([10.0 + (i % 4) * 0.1, 10.0 - (i % 3) * 0.1,
                               1.0])
        if i < 40:
            return json.dumps([24.0 + (i % 4) * 0.1, 23.0 - (i % 3) * 0.1,
                               1.0])
        return json.dumps([float(i % 7) - 3.0, -float(i % 5), 1.0])

    rig.apply(adds=[(i, vec(i)) for i in range(48)])
    clock = FakeClock()
    path = str(tmp_path / "ivfidx")
    ix = MaintainedIndex(engine, "db1", "vecs", path, "ivf",
                         payload_col="emb",
                         payload_expr=F.from_json(F.col("emb"),
                                                  "array<float>"),
                         max_lag_seconds=0.0, clock=clock,
                         split_load_factor=3.0, split_min_rows=12,
                         n_cells=4)
    ix.build()
    queries = spark.createDataFrame(
        [(1, [10.0, 10.0, 1.0]), (2, [-1.0, -2.0, 1.0])],
        "query_id long, emb array<float>")

    def probe():
        n = read_ivf_meta(path)["n_cells"]
        return sorted(tuple(r) for r in
                      ivf_index_topk(spark, path, queries, k=5, probes=n,
                                     vec_col="emb").collect())

    before = probe()
    opt = ReplicaOptimizer(engine, interval=600.0, clock=clock,
                           indexes=[ix])
    # the 44-member hot cell trips the load factor; the farthest-point-
    # seeded split separates the far bimodal mass (24/20) and the factor
    # clears — one split on the first poll, then the scheduler goes
    # quiet and STAYS quiet
    acts = opt.maybe_maintain_indexes()
    assert len(acts) == 1 and acts[0][1].startswith("split:")
    assert read_ivf_meta(path)["n_cells"] == 5
    assert probe() == before                 # all-cells probe invariant
    assert opt.maybe_maintain_indexes() == []   # stable no-op
    assert opt.maybe_maintain_indexes() == []

    # mid-split crash: tear a split (descriptor not committed), then the
    # next scheduler poll resumes it instead of wedging
    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        if p.endswith("_ivf_meta.json"):
            raise RuntimeError("injected crash")
        return real_write(p, text, spark=spark)

    # force another hot cell so a split is due again
    rig.apply(adds=[(100 + i, json.dumps([10.2 + (i % 5) * 0.05,
                                          9.9 + (i % 3) * 0.05, 1.0]))
                    for i in range(40)])
    clock.t += 1
    ix.apply()
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            ix.maybe_split()
    finally:
        fsutil.write_text = real_write
    assert staged.pending(path, _IVF_SPLIT_PENDING) is not None
    acts = opt.maybe_maintain_indexes()
    assert any(a[1].startswith("split:") for a in acts)
    assert staged.pending(path, _IVF_SPLIT_PENDING) is None
    assert read_ivf_meta(path)["n_cells"] == 6


def test_optimizer_drives_lexical_shard_split(spark, tmp_path):
    """The load-factor policy covers the lexical index too: a shard-mass
    imbalance trips one shard split per poll through the scheduler, and
    probes are bit-identical across it (placement is not semantics)."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk)

    rig = _docs_rig(spark, tmp_path)
    clock = FakeClock()
    path = str(tmp_path / "lexidx")
    ix = MaintainedIndex(rig.engine, "db1", "docs", path, "lexical",
                         payload_col="body", max_lag_seconds=0.0,
                         clock=clock, split_load_factor=1.3,
                         split_min_rows=8, shards=4, span_width=8)
    ix.build()

    def probe():
        return sorted(tuple(r) for r in
                      bm25_indexed_topk(spark, path,
                                        ["alpha", "w1", "gamma2"],
                                        k=30).collect())

    before = probe()
    opt = ReplicaOptimizer(rig.engine, interval=600.0, clock=clock,
                           indexes=[ix])
    acts = opt.maybe_maintain_indexes()
    assert len(acts) == 1 and acts[0][1].startswith("split:")
    meta = json.loads(fsutil.read_text(os.path.join(path,
                                                    "_lex_meta.json")))
    assert len(meta["splits"]) == 1
    assert probe() == before
    # bounded one action per poll, whatever the residual skew
    assert len(opt.maybe_maintain_indexes()) <= 1


def test_streaming_supervisor_services_maintained_index(spark, tmp_path):
    """The full production wiring: CDC flows through the REAL streaming
    path (supervisor-managed foreachBatch apply) at full cadence; the
    maintained index lags at its watermark until a supervisor poll whose
    optimizer finds it due, which coalesces the whole window into one
    upsert — then index_freshness reads zero behind and the probe sees
    the streamed docs."""
    import os as _os

    from mysql_ch_replicator_spark.runner import ReplicationSupervisor
    from mysql_ch_replicator_spark.sources.event_log import EventLogWriter

    event_root = str(tmp_path / "events")
    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", DOCS_DDL)
    log = EventLogWriter(_os.path.join(event_root, "db1"))
    log.add("db1", "docs", [(i, f"alpha beta w{i % 5}") for i in range(12)])
    log.rotate()

    clock = FakeClock()
    path = str(tmp_path / "lexidx")
    ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                         payload_col="body", max_lag_seconds=30.0,
                         clock=clock, shards=4, span_width=8)
    opt = ReplicaOptimizer(engine, interval=600.0, clock=clock,
                           indexes=[ix])
    sup = ReplicationSupervisor(engine, event_root,
                                str(tmp_path / "ckpt"),
                                trigger_seconds=0.2, optimizer=opt)
    try:
        sup.poll()
        sup.process_all_available()
        ix.build()

        # stream two more batches at full cadence — index stays put
        log.add("db1", "docs", [(100, "delta omicron"), (101, "delta pi")])
        log.rotate()
        log.remove("db1", "docs", [(3,)])
        log.rotate()
        sup.process_all_available()
        assert ix.status()["versions_behind"] >= 1
        r = sup.poll()
        assert r["indexes"] == []           # not due: inside the lag bound

        clock.t += 31
        r = sup.poll()
        assert r["indexes"] == [(path, "apply")]
        s = ix.status()
        assert s["versions_behind"] == 0
        got = {int(x.doc_id) for x in
               spark.read.parquet(_os.path.join(path, "docmeta"))
               .select("doc_id").collect()}
        assert 100 in got and 101 in got and 3 not in got

        # the HTTP control plane surfaces the staleness contract
        # (r10 verdict #6): /status carries per-index freshness numbers
        import json as _json
        import urllib.request

        server = sup.serve_control(port=0)
        try:
            with urllib.request.urlopen(
                    "http://127.0.0.1:"
                    f"{server.server_address[1]}/status") as resp:
                st = _json.loads(resp.read())
            assert len(st["indexes"]) == 1
            info = st["indexes"][0]
            assert info["index_path"] == path
            assert info["versions_behind"] == 0
            assert info["applied_version"] == info["replica_version"]
            assert info["age_seconds"] >= 0.0
            # geometry-drift signals (r11 verdict #6) ride /status too:
            # a pristine index reports zero dead slots, an empty chain
            assert info["n_dead_cells"] == 0
            assert info["chain_length"] == 0
        finally:
            server.shutdown()
    finally:
        sup.stop_all()


@pytest.mark.heavy
def test_randomized_windows_converge_to_rebuild(spark, tmp_path):
    """Seeded-random stress over the full contract: four maintenance
    windows of random adds/updates/deletes, a compaction thrown between
    two of them (forcing the reconcile path) and one simulated crash
    (watermark rolled back, window re-applied) — after every apply the
    maintained index must equal a from-scratch build of the replica's
    FINAL state, descriptor and probe alike."""
    import random

    from mysql_ch_replicator_spark.operators.retrieval import \
        write_lexical_index

    rnd = random.Random(1009)
    vocab = ["alpha", "beta", "gamma", "delta", "w1", "w2", "w3", "zeta"]

    def text(i):
        return " ".join(rnd.choice(vocab)
                        for _ in range(3 + (i % 5)))

    rig = _Rig(spark, tmp_path, DOCS_DDL, "docs")
    live = {}
    first = {i: text(i) for i in range(20)}
    live.update(first)
    rig.apply(adds=list(first.items()))

    clock = FakeClock()
    path = str(tmp_path / "lexidx")
    ix = MaintainedIndex(rig.engine, "db1", "docs", path, "lexical",
                         payload_col="body", max_lag_seconds=1.0,
                         clock=clock, shards=4, span_width=8)
    ix.build()
    next_id = 100

    for window in range(4):
        # 1-3 replica batches per window
        for _ in range(rnd.randint(1, 3)):
            adds, removes = [], []
            for _ in range(rnd.randint(1, 5)):
                op = rnd.random()
                if op < 0.5 or not live:              # insert
                    adds.append((next_id, text(next_id)))
                    live[next_id] = adds[-1][1]
                    next_id += 1
                elif op < 0.8:                        # update
                    k = rnd.choice(sorted(live))
                    adds.append((k, text(k + 7_000)))
                    live[k] = adds[-1][1]
                else:                                 # delete
                    k = rnd.choice(sorted(live))
                    removes.append(k)
                    live.pop(k)
            rig.apply(adds=adds, removes=removes)
        if window == 1:
            rig.engine.optimize("db1", "docs")        # tombstones vanish
        pre_state = fsutil.read_text(os.path.join(path, MAINT_STATE))
        clock.t += 2
        assert ix.maybe_apply()["applied"]
        if window == 2:                               # crash: re-apply
            fsutil.write_text(os.path.join(path, MAINT_STATE), pre_state)
            assert ix.apply()["applied"]

        full = str(tmp_path / f"full{window}")
        write_lexical_index(
            rig.engine.read_final("db1", "docs")
            .select("doc_id", "body"),
            full, id_col="doc_id", text_col="body", shards=4, span_width=8)
        assert (json.loads(fsutil.read_text(
                    os.path.join(path, "_lex_meta.json")))
                == json.loads(fsutil.read_text(
                    os.path.join(full, "_lex_meta.json")))), \
            f"descriptor diverged in window {window}"
        assert _lex_probe(spark, path) == _lex_probe(spark, full), \
            f"probe diverged in window {window}"


def test_delta_version_filter_reaches_parquet_scan(spark, tmp_path):
    """The O(changes) claim, machine-checked: the maintainer's
    ``_version > watermark`` predicate must push through read_raw's
    column-mapping projection into the parquet scan (PushedFilters), so
    file-level minmax stats prune the append-only store to the window's
    own files — without it every apply would scan the whole table."""
    import contextlib
    import io

    rig = _docs_rig(spark, tmp_path)
    rig.apply(adds=[(500, "late doc")])
    delta = rig.engine.read_raw("db1", "docs") \
        .where(F.col("_version") > 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        delta.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln]
    assert pushed and "GreaterThan(_version,1)" in pushed[0]
