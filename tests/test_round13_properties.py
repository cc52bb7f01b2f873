"""Round-13 properties: staged-snapshot crash contracts for ALL EIGHT
index actions (upsert/split/merge/rebuild x both families, including
the promotion-by-rename commit), rebuild-counter idempotence, config
validation, and the auto-widen persistence fix.

The r12 ADVICE found the one real hole in the rebuild crash story:
Spark's dynamic partition overwrite commits per-partition (delete old
dir, then rename staged dir, in a driver loop), so a crash between one
partition's delete and rename permanently drops its rows — and the old
union-of-dirs resume then retrained/re-homed WITHOUT them. The rebuilds
now stage the complete re-assigned snapshot BEFORE any destructive
mutation and resume from it; these tests reproduce the torn-overwrite
hole directly (delete a committed partition dir while the manifest is
pending) and pin that no row is lost.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from mysql_ch_replicator_spark import fsutil
from mysql_ch_replicator_spark.operators.similarity import (
    ivf_index_topk, merge_ivf_cells, read_ivf_meta, retrain_ivf_index,
    split_ivf_cell, upsert_ivf_index, write_ivf_index,
)

SF = "/root/testdata/sf0.01"


def _vec(i: int) -> list[float]:
    return [float(i % 4) * 2.0, float(i % 7) - 3.0, 1.0 + float(i % 3)]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _vec(i)) for i in range(48)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").cache()


def _drifted_ivf(spark, corpus, path: str) -> None:
    """4-cell index with one merge on the chain — retrain-eligible."""
    write_ivf_index(corpus, path, n_cells=4)
    live = sorted(set(range(1, 5))
                  - {int(c) for c in read_ivf_meta(path).get("dead", [])})
    merge_ivf_cells(spark, path, src=live[0], dst=live[1])


@pytest.fixture(scope="module")
def ivf4_template(corpus, tmp_path_factory):
    """Module-built 4-cell IVF template (r14, VERDICT #1: the torn-
    resume matrix rebuilt this identical index ~11x per run); each test
    takes a hardlink copy (_link_copy safety contract)."""
    p = str(tmp_path_factory.mktemp("ivf_tmpl") / "ivf4")
    write_ivf_index(corpus, p, n_cells=4)
    return p


@pytest.fixture(scope="module")
def drifted_template(spark, corpus, tmp_path_factory):
    """4-cell template with one merge on the chain (see ivf4_template)."""
    p = str(tmp_path_factory.mktemp("ivf_tmpl_drift") / "drift")
    _drifted_ivf(spark, corpus, p)
    return p


def _crash_after_write(suffix: str):
    """write_text wrapper that COMPLETES the matching write, then dies —
    the crash lands strictly after the manifest is durable."""
    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        real_write(p, text, spark=spark)
        if p.endswith(suffix):
            raise RuntimeError("injected crash after manifest")
    return real_write, crashing


def test_retrain_torn_overwrite_resumes_from_staging(spark, corpus,
                                                     tmp_path,
                                                     drifted_template):
    """THE ADVICE-r12 scenario: retrain crashes with the manifest
    durable but the destructive rewrite not yet run, and the torn
    per-partition overwrite is simulated by deleting one committed cell
    directory outright. The resume must restore every row from the
    staged snapshot — the old union-of-cell-dirs input would have
    retrained over the holed data and lost that cell forever."""
    path = str(tmp_path / "torn")
    _link_copy(drifted_template, path)
    clean = str(tmp_path / "clean")
    _link_copy(drifted_template, clean)
    retrain_ivf_index(spark, clean, iters=2)

    real_write, crashing = _crash_after_write("_ivf_retrain_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            retrain_ivf_index(spark, path, iters=2)
    finally:
        fsutil.write_text = real_write

    # simulate the torn overwrite's hole: one whole cell dir gone
    meta = read_ivf_meta(path)
    live = sorted(set(range(1, int(meta["n_cells"]) + 1))
                  - {int(c) for c in meta.get("dead", [])})
    fsutil.delete(os.path.join(path, f"cell={live[0]}"))
    assert spark.read.parquet(path).count() < corpus.count(), \
        "precondition: the hole must actually drop rows"

    assert retrain_ivf_index(spark, path) is not None
    idx = spark.read.parquet(path)
    assert idx.count() == corpus.count(), "rows lost across the resume"
    assert idx.select("vec_id").distinct().count() == corpus.count()
    clean_meta = read_ivf_meta(clean)
    got_meta = read_ivf_meta(path)
    assert got_meta["centroids"] == clean_meta["centroids"]
    assert got_meta["retrains"] == 1
    assert sorted(map(tuple, idx.select("vec_id", "cell").collect())) == \
        sorted(map(tuple, spark.read.parquet(clean)
                   .select("vec_id", "cell").collect()))
    # staging + manifest both cleaned up after the commit
    assert not fsutil.exists(os.path.join(path, "_retrain_staging"))
    assert not fsutil.exists(os.path.join(path,
                                          "_ivf_retrain_pending.json"))


def test_retrain_resume_after_descriptor_commit_no_double_bump(
        spark, corpus, tmp_path, drifted_template):
    """A crash between the descriptor commit and the manifest delete
    must not double-count the rebuild on resume (ADVICE r12): the
    descriptor already reflects the pending target, so the counter
    stays at 1 — mirroring the split's 'already grown' guard."""
    path = str(tmp_path / "bump")
    _link_copy(drifted_template, path)

    real_delete = fsutil.delete

    def crashing_delete(p, recursive=True, spark=None):
        if p.endswith("_ivf_retrain_pending.json"):
            raise RuntimeError("injected crash before manifest delete")
        return real_delete(p, recursive=recursive, spark=spark)

    fsutil.delete = crashing_delete
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            retrain_ivf_index(spark, path, iters=2)
    finally:
        fsutil.delete = real_delete
    assert read_ivf_meta(path)["retrains"] == 1
    assert fsutil.exists(os.path.join(path, "_ivf_retrain_pending.json"))

    assert retrain_ivf_index(spark, path) is not None   # resume
    assert read_ivf_meta(path)["retrains"] == 1, \
        "resume after descriptor commit must not re-bump the counter"
    assert not fsutil.exists(os.path.join(path,
                                          "_ivf_retrain_pending.json"))
    idx = spark.read.parquet(path)
    assert idx.count() == corpus.count()


# -- lexical compaction: the same contract --------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _drifted_lexical(spark, docs, path: str) -> None:
    from mysql_ch_replicator_spark.operators.retrieval import (
        merge_lexical_shards, split_lexical_shard, write_lexical_index,
    )
    write_lexical_index(docs, path, shards=8)
    split_lexical_shard(spark, path)
    merge_lexical_shards(spark, path)


def test_compact_torn_overwrite_resumes_from_staging(spark, docs,
                                                     tmp_path):
    """Lexical twin of the torn-overwrite test: manifest durable, one
    committed postings shard dir deleted outright, resume restores the
    full posting set from staging — equal to a from-scratch build."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index, write_lexical_index,
    )

    path = str(tmp_path / "torn")
    _drifted_lexical(spark, docs, path)
    postings_before = spark.read.parquet(
        os.path.join(path, "postings")).count()

    real_write, crashing = _crash_after_write("_lex_compact_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_lexical_index(spark, path)
    finally:
        fsutil.write_text = real_write

    shard_dirs = [n for n in fsutil.list_names(
        os.path.join(path, "postings")) if n.startswith("shard=")]
    fsutil.delete(os.path.join(path, "postings", shard_dirs[0]))
    assert spark.read.parquet(
        os.path.join(path, "postings")).count() < postings_before, \
        "precondition: the hole must actually drop postings"

    k = compact_lexical_index(spark, path)
    assert k is not None
    fresh = str(tmp_path / "fresh")
    write_lexical_index(docs, fresh, shards=k)
    got = spark.read.parquet(os.path.join(path, "postings"))
    want = spark.read.parquet(os.path.join(fresh, "postings"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect())), \
        "postings lost or drifted across the resume"
    meta2 = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_meta.json")))
    assert meta2["compactions"] == 1
    assert not fsutil.exists(os.path.join(path, "_compact_staging"))
    assert not fsutil.exists(os.path.join(path,
                                          "_lex_compact_pending.json"))


def test_compact_resume_after_descriptor_commit_no_double_bump(
        spark, docs, tmp_path):
    """compactions counter stays at 1 across a resume of a run torn
    between the descriptor commit and the manifest delete."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index,
    )

    path = str(tmp_path / "bump")
    _drifted_lexical(spark, docs, path)

    real_delete = fsutil.delete

    def crashing_delete(p, recursive=True, spark=None):
        if p.endswith("_lex_compact_pending.json"):
            raise RuntimeError("injected crash before manifest delete")
        return real_delete(p, recursive=recursive, spark=spark)

    fsutil.delete = crashing_delete
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_lexical_index(spark, path)
    finally:
        fsutil.delete = real_delete
    meta = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_meta.json")))
    assert meta["compactions"] == 1

    assert compact_lexical_index(spark, path) is not None   # resume
    meta2 = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_meta.json")))
    assert meta2["compactions"] == 1, \
        "resume after descriptor commit must not re-bump the counter"
    assert not fsutil.exists(os.path.join(path,
                                          "_lex_compact_pending.json"))


# -- config validation + status symmetry (ADVICE r12) ----------------------


def _mk_engine(spark, tmp_path, name="replica"):
    from mysql_ch_replicator_spark.engine import ReplicaEngine

    engine = ReplicaEngine(spark, str(tmp_path / name))
    engine.create_table("db1", """CREATE TABLE vecs (
      vec_id bigint NOT NULL, emb varchar(300), PRIMARY KEY (vec_id))""")
    return engine


def test_retrain_after_zero_rejected(spark, tmp_path):
    """retrain_after=0 would fire the rebuild trigger on every poll
    while the rebuild no-ops on an undrifted index — 'retrain:None'
    forever, permanently preempting split/merge (ADVICE r12). Rejected
    at construction like the ping-pong guard."""
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex

    engine = _mk_engine(spark, tmp_path)
    with pytest.raises(ValueError, match="retrain_after"):
        MaintainedIndex(engine, "db1", "vecs", str(tmp_path / "ix"),
                        "ivf", payload_col="emb", retrain_after=0)
    MaintainedIndex(engine, "db1", "vecs", str(tmp_path / "ix2"),
                    "ivf", payload_col="emb", retrain_after=1)


def test_lexical_status_exposes_compactions(spark, tmp_path):
    """/status must report rebuild history for BOTH families (ADVICE
    r12): the lexical arm carries 'compactions' beside n_dead_cells /
    chain_length, counting up when a compaction runs."""
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index, merge_lexical_shards, split_lexical_shard,
    )
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE docs (
      doc_id bigint NOT NULL, body varchar(255), PRIMARY KEY (doc_id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db1", "docs",
            [(i, f"alpha beta gamma delta token{i % 7} word{i % 11}")
             for i in range(64)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    path = str(tmp_path / "lex")
    ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                         payload_col="body", shards=8)
    ix.build()
    assert ix.status()["compactions"] == 0

    split_lexical_shard(spark, path)
    merge_lexical_shards(spark, path)
    assert compact_lexical_index(spark, path) is not None
    st = ix.status()
    assert st["compactions"] == 1
    assert st["chain_length"] == 0 and st["n_dead_cells"] == 0


# -- auto-widen persistence (ADVICE r12) ------------------------------------


def test_auto_widen_result_is_persisted(spark, tmp_path):
    """The widening loop's per-round counts collect (and the caller's
    final action) must run against a PERSISTED round result — without
    it every round re-executes every prior probe pass's scan + join +
    window (ADVICE r12)."""
    common = [(i, [10.0 + (i % 5) * 0.1, float(i % 3), 1.0], "c")
              for i in range(30)]
    rare = [(100 + i, [-10.0 - (i % 4) * 0.1, float(i % 3), 1.0], "r")
            for i in range(8)]
    corpus = spark.createDataFrame(
        common + rare,
        "vec_id long, embedding array<float>, label string")
    path = str(tmp_path / "index")
    write_ivf_index(corpus, path, n_cells=8, meta_cols=["label"])
    queries = spark.createDataFrame(
        [(0, [10.0, 0.5, 1.0], "r")],
        "query_id long, embedding array<float>, label string")
    got = ivf_index_topk(spark, path, queries, k=5, probes=1,
                         filter_cols=["label"], min_results=5)
    assert got.storageLevel.useMemory, \
        "min_results result must be transient-persisted"
    assert got.count() == 5


# -- bench snapshot guard (r12 verdict #7) ----------------------------------


def test_bench_snapshot_guard():
    """A degraded window (loadavg_at_start over the limit) can never
    silently become the committed controlled snapshot: refused without
    the explicit force, and the decision is recorded either way."""
    import bench

    # not requested: never writes, never notes
    assert bench.snapshot_decision(0.5, False, False) == (False, None)
    assert bench.snapshot_decision(9.9, False, True) == (False, None)
    # requested on a clean host: writes silently
    assert bench.snapshot_decision(
        bench.SNAPSHOT_LOAD_LIMIT, True, False) == (True, None)
    # requested under load: refused with a recorded reason
    ok, note = bench.snapshot_decision(
        bench.SNAPSHOT_LOAD_LIMIT + 0.1, True, False)
    assert not ok and "REFUSED" in note
    # forced under load: writes, but the override is on the record
    ok, note = bench.snapshot_decision(11.6, True, True)
    assert ok and "FORCED" in note


def test_bench_only_selects_named_queries():
    """``bench.py --only`` keeps the named queries in the order given;
    an unknown name exits non-zero and lists the valid names."""
    import bench

    qs = {"a": 1, "b": 2, "c": 3}
    assert bench.select_queries(qs, None) is qs
    assert list(bench.select_queries(qs, "c, a")) == ["c", "a"]
    with pytest.raises(SystemExit) as exc:
        bench.select_queries(qs, "a,nope")
    assert "nope" in str(exc.value.code)
    assert str(exc.value.code).endswith("a\nb\nc")


# -- persisted PQ codes in the IVF index (r12 verdict #3) -------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def pq_index(spark, emb, tmp_path_factory):
    """Full-corpus PQ-carrying index at the deployed defaults."""
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    write_ivf_index(emb, path, n_cells=8, pq={"m": 16, "n_codes": 16})
    return path


def _queries(emb, n=12):
    return emb.where(F.col("vec_id") < n) \
        .select(F.col("vec_id").alias("query_id"), "embedding")


def test_persisted_pq_probe_equals_in_memory_ivf_pq(spark, emb, pq_index):
    """The persisted ADC probe must be bit-identical to the in-memory
    ``ivf_pq_topk`` composition at the same geometry: same deterministic
    codebooks, same ADC fold order, same shortlist, same exact rerank —
    the descriptor-carried codes ARE the staged frame ivf_pq_topk
    builds per call."""
    from mysql_ch_replicator_spark.operators.similarity import ivf_pq_topk

    q = _queries(emb)
    got = ivf_index_topk(spark, pq_index, q, k=10, probes=2,
                         pq_shortlist=100)
    want = ivf_pq_topk(emb, q, k=10, n_cells=8, probes=2,
                       m=16, n_codes=16, shortlist=100)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_persisted_pq_unbounded_shortlist_equals_raw_probe(spark, emb,
                                                           pq_index):
    """With a shortlist covering every candidate the ADC stage only
    reorders a superset the exact rerank restores: the PQ probe must
    EQUAL the raw probe at the same geometry."""
    q = _queries(emb)
    got = ivf_index_topk(spark, pq_index, q, k=10, probes=2,
                         pq_shortlist=10_000_000)
    want = ivf_index_topk(spark, pq_index, q, k=10, probes=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


@pytest.mark.heavy
def test_pq_codes_survive_incremental_path(spark, emb, tmp_path):
    """Upsert (re-encode from the descriptor), split, merge, retrain —
    after the whole lifecycle every stored code must equal a fresh
    encode of its row's embedding, and the unbounded-shortlist PQ probe
    must still equal the raw probe on the same index."""
    from mysql_ch_replicator_spark.operators.similarity import (
        normalize_expr, pq_encode, read_ivf_meta, retrain_ivf_index,
        split_ivf_cell, upsert_ivf_index,
    )

    path = str(tmp_path / "index")
    write_ivf_index(emb.where(F.col("vec_id") % 5 != 0), path,
                    n_cells=8, pq={"m": 16, "n_codes": 16})
    upsert_ivf_index(spark, path,
                     adds=emb.where(F.col("vec_id") % 5 == 0),
                     removes=emb.where(F.col("vec_id") % 11 == 0)
                     .select("vec_id"))
    split_ivf_cell(spark, path)
    merge_ivf_cells(spark, path)
    assert retrain_ivf_index(spark, path) is not None

    meta = read_ivf_meta(path)
    pqm = meta["pq"]
    idx = spark.read.parquet(path)
    n_live = emb.where(F.col("vec_id") % 11 != 0).count()
    assert idx.count() == n_live
    # every stored code equals a fresh deterministic encode
    staged = idx.withColumn("__v", normalize_expr("embedding"))
    fresh = staged.withColumn(
        "fresh", pq_encode("__v", int(pqm["m"]), int(pqm["n_codes"]),
                           int(meta["dims"]), normalized=True,
                           books=pqm["books"]))
    bad = fresh.where(F.col("codes") != F.col("fresh")).count()
    assert bad == 0, f"{bad} rows carry stale codes after the lifecycle"

    q = _queries(emb)
    got = ivf_index_topk(spark, path, q, k=10, probes=2,
                         pq_shortlist=10_000_000)
    want = ivf_index_topk(spark, path, q, k=10, probes=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_pq_candidate_scan_reads_codes_not_embeddings(spark, emb,
                                                      pq_index):
    """THE 100 TB point of the layout: the ADC candidate stage's scan
    must read the codes column and NOT the raw embedding column (16×
    the IO at the defaults) — embeddings are read only by the rerank's
    broadcast-shortlist scan."""
    q = _queries(emb, n=4)
    got = ivf_index_topk(spark, pq_index, q, k=5, probes=2,
                         pq_shortlist=50)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scans = [s for s in plan.split("FileScan") if "ReadSchema" in s]
    code_scans = [s for s in scans if "codes" in s.split("ReadSchema")[1][:300]]
    assert code_scans, "no scan reads the codes column"
    for s in code_scans:
        schema = s.split("ReadSchema")[1][:300]
        assert "embedding" not in schema, \
            "the ADC candidate scan must not read raw embeddings"
    # partition pruning still holds on every scan of the index
    assert "PartitionFilters" in plan


def test_pq_probe_requires_pq_block(spark, emb, tmp_path):
    """A raw index (no codes) must refuse the ADC probe loudly instead
    of failing at analysis depth."""
    path = str(tmp_path / "raw")
    write_ivf_index(emb.limit(64), path, n_cells=4)
    with pytest.raises(ValueError, match="pq"):
        ivf_index_topk(spark, path, _queries(emb, 4), k=5,
                       pq_shortlist=10)


# -- auto-geometry arming (r12 verdict #4) ----------------------------------


def test_geometry_band_validation(spark, tmp_path):
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex

    engine = _mk_engine(spark, tmp_path)
    with pytest.raises(ValueError, match="target_partition_rows"):
        MaintainedIndex(engine, "db1", "vecs", str(tmp_path / "a"),
                        "ivf", payload_col="emb", target_partition_rows=0)
    with pytest.raises(ValueError, match="geometry_band"):
        MaintainedIndex(engine, "db1", "vecs", str(tmp_path / "b"),
                        "ivf", payload_col="emb",
                        target_partition_rows=10, geometry_band=1.0)


def test_ivf_auto_geometry_recells_grown_corpus(spark, tmp_path):
    """The r12 verdict's gap: a corpus that grew far past the build-time
    geometry kept its undersized base forever. Armed with
    target_partition_rows, the poll after the growth window retrains to
    total_rows // target cells; within-band polls stay no-ops; probes
    after equal brute force at full coverage."""
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.operators.similarity import (
        brute_force_topk,
    )
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE vecs (
      vec_id bigint NOT NULL, emb varchar(300), PRIMARY KEY (vec_id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db1", "vecs",
            [(i, json.dumps(_vec(i))) for i in range(32)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    path = str(tmp_path / "ivf")
    ix = MaintainedIndex(engine, "db1", "vecs", path, "ivf",
                         payload_col="emb",
                         payload_expr=F.from_json(F.col("emb"),
                                                  "array<float>"),
                         target_partition_rows=16, geometry_band=2.0,
                         n_cells=4)
    ix.build()
    # 32 rows / 4 cells = mean 8: inside [16/2, 16*2] -> no action
    assert ix.maybe_rebalance() is None

    # growth window: 10x the corpus through CDC, absorb it
    log.add("db1", "vecs",
            [(i, json.dumps(_vec(i))) for i in range(32, 320)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert ix.apply()["applied"]
    act = ix.maybe_rebalance()
    assert act == "retrain:20", act        # 320 rows // 16 per cell
    meta = read_ivf_meta(path)
    assert meta["n_cells"] == 20 and meta["geometry_actions"] == 0
    # converged: mean is 16, inside the band
    assert ix.maybe_rebalance() is None

    corpus = spark.createDataFrame(
        [(i, _vec(i)) for i in range(320)],
        "vec_id long, embedding array<float>")
    queries = corpus.where(F.col("vec_id") < 4) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_index_topk(spark, path, queries, k=5, probes=20)
    want = brute_force_topk(corpus, queries, 5)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_lexical_auto_geometry_reshards_grown_corpus(spark, tmp_path):
    """The lexical arm of the same policy: posting mass past the band
    fires compact:<bigger-shard-count>; the probe equals the
    from-scratch BM25 answer over the final corpus."""
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, bm25_topk,
    )
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    def body(i):
        return f"alpha beta gamma w{i % 23} z{i % 7} q{i % 11}"

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE docs (
      doc_id bigint NOT NULL, body varchar(255), PRIMARY KEY (doc_id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db1", "docs", [(i, body(i)) for i in range(32)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    path = str(tmp_path / "lex")
    ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                         payload_col="body",
                         target_partition_rows=64, geometry_band=2.0,
                         shards=4)
    ix.build()
    assert ix.maybe_rebalance() is None    # ~192 postings / 4 in band

    log.add("db1", "docs", [(i, body(i)) for i in range(32, 512)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert ix.apply()["applied"]
    act = ix.maybe_rebalance()
    assert act is not None and act.startswith("compact:"), act
    new_shards = int(act.split(":")[1])
    assert new_shards > 4
    assert ix.maybe_rebalance() is None    # converged

    docs = spark.createDataFrame([(i, body(i)) for i in range(512)],
                                 "doc_id long, body string")
    got = sorted(map(tuple, bm25_indexed_topk(
        spark, path, ["alpha", "w3"], k=10).collect()))
    want = sorted(map(tuple, bm25_topk(
        docs, ["alpha", "w3"], k=10, text_col="body").collect()))
    assert got == want


# -- the ivf_pq_topk / persisted-PQ oracle (r12 verdict #5) ------------------


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_ivf_pq_oracle_matches_both_probe_shapes(spark, sf_dir, tmp_path):
    """The DuckDB CTE oracle written for the planned r14
    ``ann_ivf_pq_index`` registration must match BOTH the in-memory
    ``ivf_pq_topk`` and the persisted ``ivf_index_topk(pq_shortlist=)``
    probe at the registration geometry — making the r14 slot a
    formality."""
    from tests.oracle_compare import compare

    from mysql_ch_replicator_spark.operators.similarity import ivf_pq_topk
    from mysql_ch_replicator_spark.queries_ml import _ivf_pq_oracle_sql

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 12) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    sql = _ivf_pq_oracle_sql(k=10, shortlist=100)

    mem = ivf_pq_topk(emb, q, k=10, n_cells=8, probes=2,
                      m=16, n_codes=16, shortlist=100)
    ok, msg = compare(mem, sql, sf_dir)
    assert ok, f"in-memory vs oracle: {msg}"

    path = str(tmp_path / "index")
    write_ivf_index(emb, path, n_cells=8, pq={"m": 16, "n_codes": 16})
    per = ivf_index_topk(spark, path, q, k=10, probes=2,
                         pq_shortlist=100)
    ok, msg = compare(per, sql, sf_dir)
    assert ok, f"persisted vs oracle: {msg}"


# -- maintained-streaming retained floor (r12 verdict #6) --------------------


def test_maintained_streaming_retained_floor(spark, tmp_path):
    """The bench sidecar measures the maintained-streaming contract
    (64-66% apply retained at an every-poll-due cadence) but nothing
    FAILED if a regression halved it — the number only appeared in
    notes. This pins the floor as loose asserts at test scale: both
    passes drain the IDENTICAL event window from a warm seed checkpoint
    (the bench's seed-then-resume shape), maintenance coalesces on a
    concurrent poller, and the maintained drain must retain >= 25% of
    the baseline's apply throughput, stay boundedly stale while
    draining, and converge to 0 behind. Floor calibration (r13
    optimization round): at THIS scale (50k events, 4 shards, 1 s poll)
    the idle-host retained band measured 37-42% across repeated runs —
    the original 40% floor sat inside that noise band and flaked; 25%
    still trips on a genuine halving of the contract (~20%) while
    clearing the measured band with real margin."""
    import threading
    import time as _time

    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.optimizer import ReplicaOptimizer
    from mysql_ch_replicator_spark.sources.event_log import EventLogWriter

    def body(j):
        return f"alpha w{j % 97} beta gamma{j % 11} tail{j % 5}"

    log_dir = str(tmp_path / "log")
    log = EventLogWriter(log_dir, live=True)
    log.add("bench", "t", [(j, body(j)) for j in range(2_000)])
    log.rotate()

    engines = {}
    for name in ("maint", "base"):
        eng = ReplicaEngine(spark, str(tmp_path / f"rep_{name}"))
        eng.create_table("bench", """CREATE TABLE t (
          id int NOT NULL, body varchar(255), PRIMARY KEY (id))""")
        q = eng.start_streaming(log_dir, str(tmp_path / f"ck_{name}"),
                                trigger_seconds=0.01,
                                max_files_per_trigger=4)
        q.processAllAvailable()
        q.stop()
        engines[name] = eng

    path = str(tmp_path / "lexidx")
    ix = MaintainedIndex(engines["maint"], "bench", "t", path, "lexical",
                         payload_col="body", max_lag_seconds=0.0,
                         shards=4)
    ix.build()
    opt = ReplicaOptimizer(engines["maint"], interval=1e9, indexes=[ix])

    n, per = 50_000, 2_000
    for i in range(2_000, n, per):
        log.add("bench", "t", [(j, body(j)) for j in range(i, i + per)])
        if (i // per) % 3 == 2:
            log.rotate()
    log.remove("bench", "t", [(j,) for j in range(n - 1_000, n)])
    log.rotate()

    # baseline: warm resume, no maintenance (also warms the streaming
    # machinery so the maintained pass pays no first-run JIT)
    qb = engines["base"].start_streaming(
        log_dir, str(tmp_path / "ck_base"), trigger_seconds=0.01,
        max_files_per_trigger=4)
    t0 = _time.perf_counter()
    try:
        qb.processAllAvailable()
    finally:
        qb.stop()
    base_wall = _time.perf_counter() - t0

    worst = [0]
    stop = threading.Event()

    def maintain():
        while not stop.is_set():
            try:
                worst[0] = max(worst[0],
                               ix.status()["versions_behind"])
                opt.maybe_maintain_indexes()
            except Exception:        # noqa: BLE001 — keep polling
                pass
            stop.wait(1.0)

    q2 = engines["maint"].start_streaming(
        log_dir, str(tmp_path / "ck_maint"), trigger_seconds=0.01,
        max_files_per_trigger=4)
    poller = threading.Thread(target=maintain, daemon=True)
    t0 = _time.perf_counter()
    poller.start()
    try:
        q2.processAllAvailable()
    finally:
        stop.set()
        poller.join(timeout=10)
        q2.stop()
    maint_wall = _time.perf_counter() - t0

    while ix.status()["versions_behind"] > 0:
        ix.apply()
    assert ix.status()["versions_behind"] == 0   # converged

    retained = 100.0 * base_wall / maint_wall
    print(f"retained={retained:.1f}% base={base_wall:.2f}s "
          f"maint={maint_wall:.2f}s")
    assert retained >= 25.0, (
        f"maintained drain retained only {retained:.0f}% of baseline "
        f"apply throughput (base {base_wall:.2f}s vs maint "
        f"{maint_wall:.2f}s) — a maintenance-cost regression")
    # staleness bounded WHILE draining: the poller never observed the
    # index more than a coalescing window behind (the drain applies a
    # handful of micro-batches per 1 s poll window at this scale)
    assert worst[0] <= 10, f"worst staleness {worst[0]} versions"
    final = engines["maint"].read_final("bench", "t").count()
    assert final == n - 1_000


# -- trained PQ codebooks (round-13 surplus) --------------------------------


@pytest.mark.heavy
def test_trained_pq_books_improve_recall(spark, emb):
    """Data-trained per-subspace codebooks (exact quantized Lloyd over
    normalized subvectors, seeded from the deterministic defaults) must
    beat the constant default books on PQ-stage recall — measured
    0.913 -> 0.967 recall@10 at shortlist=100 on the synthetic corpus;
    the floor pins the win."""
    from mysql_ch_replicator_spark.operators.similarity import (
        ann_pq_topk, brute_force_topk, train_pq_codebooks,
    )

    q = _queries(emb, 30)
    truth = {}
    for r in brute_force_topk(emb, q, 10).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hit = sum(len(got.get(k, set()) & v) for k, v in truth.items())
        return hit / sum(len(v) for v in truth.values())

    base = recall(ann_pq_topk(emb, q, 10, shortlist=100))
    books = train_pq_codebooks(emb, iters=2)
    trained = recall(ann_pq_topk(emb, q, 10, shortlist=100, books=books))
    assert trained > base, (trained, base)
    assert trained >= 0.94, trained


@pytest.mark.heavy
def test_trained_pq_books_deterministic_and_sampled(spark):
    """Bit-reproducible training (exact quantized arithmetic, no RNG
    state): two trains on the same corpus return identical books; the
    deterministic hash-sampled train returns well-formed books too."""
    from mysql_ch_replicator_spark.operators.similarity import (
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = train_pq_codebooks(emb, iters=1)
    b = train_pq_codebooks(emb, iters=1)
    assert a == b
    assert len(a) == 16 and all(len(book) == 16 for book in a)
    assert all(len(cent) == 4 for book in a for cent in book)
    s = train_pq_codebooks(emb, iters=1, sample_fraction=0.5)
    assert len(s) == 16 and all(len(book) == 16 for book in s)
    assert all(len(cent) == 4 for book in s for cent in book)


def test_trained_books_flow_through_persisted_index(spark, emb, tmp_path):
    """Trained books persist in the descriptor and drive BOTH probe
    stages: the persisted ADC probe equals the in-memory ivf_pq_topk at
    the same trained books, and the unbounded-shortlist exactness
    contract is books-independent."""
    from mysql_ch_replicator_spark.operators.similarity import (
        ivf_pq_topk, train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, iters=1)
    path = str(tmp_path / "trained")
    write_ivf_index(emb, path, n_cells=8,
                    pq={"m": 16, "n_codes": 16, "books": books})
    q = _queries(emb)
    got = ivf_index_topk(spark, path, q, k=10, probes=2,
                         pq_shortlist=100)
    want = ivf_pq_topk(emb, q, k=10, n_cells=8, probes=2,
                       m=16, n_codes=16, shortlist=100, books=books)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    exact = ivf_index_topk(spark, path, q, k=10, probes=2,
                           pq_shortlist=10_000_000)
    raw = ivf_index_topk(spark, path, q, k=10, probes=2)
    assert sorted(map(tuple, exact.collect())) == \
        sorted(map(tuple, raw.collect()))


def test_pq_probe_composes_with_filters_and_auto_widen(spark, tmp_path):
    """The three probe dials compose: a PQ-carrying index with metadata
    columns, a selective label filter (applied in the ADC join BEFORE
    the shortlist), and min_results auto-widen — the widened two-stage
    probe must return the brute-force filtered answer once the probes
    cover the matching rows (unbounded shortlist keeps the rerank
    exact within probed cells)."""
    from mysql_ch_replicator_spark.operators.similarity import (
        brute_force_topk,
    )

    common = [(i, [10.0 + (i % 5) * 0.1, float(i % 3), 1.0], "c")
              for i in range(30)]
    rare = [(100 + i, [-10.0 - (i % 4) * 0.1, float(i % 3), 1.0], "r")
            for i in range(8)]
    corpus = spark.createDataFrame(
        common + rare,
        "vec_id long, embedding array<float>, label string")
    path = str(tmp_path / "index")
    # m=1 so the 3-dim vectors quantize in one subspace
    write_ivf_index(corpus, path, n_cells=8, meta_cols=["label"],
                    pq={"m": 1, "n_codes": 8})
    queries = spark.createDataFrame(
        [(0, [10.0, 0.5, 1.0], "r")],
        "query_id long, embedding array<float>, label string")
    got = ivf_index_topk(spark, path, queries, k=5, probes=1,
                         filter_cols=["label"], min_results=5,
                         pq_shortlist=1_000_000)
    want = brute_force_topk(
        corpus.where(F.col("label") == "r"),
        queries.select("query_id", "embedding"), 5)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_maintained_pq_index_e2e(spark, tmp_path):
    """The maintained path supports the PQ layout end-to-end: index_opts
    carry pq= through build, the coalesced apply re-encodes adds from
    the descriptor, and the ADC probe with an unbounded shortlist equals
    the raw probe after CDC."""
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.operators.similarity import (
        normalize_expr, pq_encode,
    )
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    def vec(i):
        return [float(i % 4) * 2.0, float(i % 7) - 3.0, 1.0 + float(i % 3)]

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE vecs (
      vec_id bigint NOT NULL, emb varchar(300), PRIMARY KEY (vec_id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db1", "vecs", [(i, json.dumps(vec(i))) for i in range(48)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    path = str(tmp_path / "ivf")
    ix = MaintainedIndex(engine, "db1", "vecs", path, "ivf",
                         payload_col="emb",
                         payload_expr=F.from_json(F.col("emb"),
                                                  "array<float>"),
                         n_cells=4, pq={"m": 1, "n_codes": 8})
    ix.build()
    meta = read_ivf_meta(path)
    assert "pq" in meta and meta["pq"]["m"] == 1

    log.add("db1", "vecs",
            [(i, json.dumps(vec(i))) for i in range(48, 64)])
    log.remove("db1", "vecs", [(i,) for i in range(4)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    assert ix.apply()["applied"]

    idx = spark.read.parquet(path)
    assert idx.count() == 60
    staged = idx.withColumn("__v", normalize_expr("embedding"))
    bad = staged.withColumn(
        "fresh", pq_encode("__v", 1, 8, 3, normalized=True,
                           books=meta["pq"]["books"])) \
        .where(F.col("codes") != F.col("fresh")).count()
    assert bad == 0, f"{bad} CDC-applied rows carry stale codes"

    q = spark.createDataFrame([(999, vec(5))],
                              "query_id long, embedding array<float>")
    got = ivf_index_topk(spark, path, q, k=5, probes=4,
                         pq_shortlist=1_000_000)
    want = ivf_index_topk(spark, path, q, k=5, probes=4)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


@pytest.mark.heavy
def test_retrain_trains_pq_books_too(spark, emb, tmp_path):
    """retrain_ivf_index(train_pq=True) is the OPTIMIZE FINAL for BOTH
    quantization layers: fresh coarse centroids AND fresh per-subspace
    books trained over the current corpus, every row re-encoded in the
    same pass, the books committed into the descriptor — and the trained
    books ride the manifest, so a resume re-encodes with the torn run's
    books rather than re-training."""
    from mysql_ch_replicator_spark.operators.similarity import (
        normalize_expr, pq_encode, split_ivf_cell, train_pq_codebooks,
    )

    path = str(tmp_path / "index")
    write_ivf_index(emb, path, n_cells=8, pq={"m": 16, "n_codes": 16})
    old_books = read_ivf_meta(path)["pq"]["books"]
    split_ivf_cell(spark, path)      # drift the chain

    assert retrain_ivf_index(spark, path, train_pq=True) is not None
    meta = read_ivf_meta(path)
    new_books = meta["pq"]["books"]
    assert new_books != old_books, "books must actually retrain"
    assert new_books == train_pq_codebooks(emb, iters=2,
                                           salt="ivf-retrain|pq"), \
        "descriptor books must equal a fresh train over the corpus"
    idx = spark.read.parquet(path)
    staged = idx.withColumn("__v", normalize_expr("embedding"))
    bad = staged.withColumn(
        "fresh", pq_encode("__v", 16, 16, 64, normalized=True,
                           books=new_books)) \
        .where(F.col("codes") != F.col("fresh")).count()
    assert bad == 0, f"{bad} rows not re-encoded with the new books"
    # the ADC probe now runs on the trained books; exactness contract
    # (unbounded shortlist == raw probe) is books-independent
    q = _queries(emb)
    got = ivf_index_topk(spark, path, q, k=10, probes=2,
                         pq_shortlist=10_000_000)
    want = ivf_index_topk(spark, path, q, k=10, probes=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # a train_pq retrain on an undrifted index is NOT a no-op (explicit
    # intent, like n_cells) — but a plain retrain afterwards is
    assert retrain_ivf_index(spark, path) is None


def test_retrain_pq_books_crash_resume(spark, emb, tmp_path):
    """A two-layer retrain torn before the descriptor commit resumes
    with the MANIFEST's trained books — descriptor and codes converge to
    the clean result without re-training."""
    path = str(tmp_path / "crash")
    write_ivf_index(emb, path, n_cells=8, pq={"m": 16, "n_codes": 16})
    clean = str(tmp_path / "clean")
    write_ivf_index(emb, clean, n_cells=8, pq={"m": 16, "n_codes": 16})
    for p in (path, clean):
        merge_ivf_cells(spark, p)

    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        if p.endswith("_ivf_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            retrain_ivf_index(spark, path, train_pq=True)
    finally:
        fsutil.write_text = real_write

    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_ivf_retrain_pending.json")))
    assert pend.get("pq_books"), "manifest must carry the trained books"

    assert retrain_ivf_index(spark, path) is not None   # resume
    retrain_ivf_index(spark, clean, train_pq=True)
    got, want = read_ivf_meta(path), read_ivf_meta(clean)
    assert got["pq"]["books"] == want["pq"]["books"]
    assert got["centroids"] == want["centroids"]
    assert sorted(map(tuple, spark.read.parquet(path)
                      .select("vec_id", "cell", "codes").collect())) == \
        sorted(map(tuple, spark.read.parquet(clean)
                   .select("vec_id", "cell", "codes").collect()))


def test_pq_rerank_scan_pushes_shortlist_ids(spark, emb, pq_index):
    """The rerank stage must push the shortlist ids INTO the embedding
    scan (PushedFilters, row-group pruning) — a broadcast hash join
    alone reads the probed cells' whole embedding column, 16x the ADC
    stage's IO at the defaults."""
    q = _queries(emb, 4)
    got = ivf_index_topk(spark, pq_index, q, k=5, probes=2,
                         pq_shortlist=50)
    plan = got._jdf.queryExecution().executedPlan().toString()
    emb_scans = [s for s in plan.split("FileScan")
                 if "ReadSchema" in s and "embedding" in
                 s.split("ReadSchema")[1][:300]]
    assert emb_scans, "no embedding scan in the rerank"
    assert any("PushedFilters: [" in s and "In(vec_id" in
               s.split("PushedFilters", 1)[1][:200] for s in emb_scans), \
        "shortlist ids not pushed into the embedding scan"
    assert got.count() > 0


def test_pq_shortlist_below_k_rejected(spark, emb, pq_index):
    """shortlist < k silently caps every query and defeats the
    min_results exhaustion guarantee — rejected loudly."""
    with pytest.raises(ValueError, match="pq_shortlist"):
        ivf_index_topk(spark, pq_index, _queries(emb, 4), k=10,
                       pq_shortlist=5)


def test_retrain_noop_reaps_orphaned_staging(spark, corpus, tmp_path,
                                             ivf4_template):
    """A crash between the manifest delete and the staging delete leaves
    an orphaned full-index-size snapshot; the next (no-op) retrain must
    reap it instead of leaking it forever."""
    path = str(tmp_path / "idx")
    _link_copy(ivf4_template, path)
    orphan = os.path.join(path, "_retrain_staging")
    spark.createDataFrame([(1,)], "x int").write.parquet(orphan)
    assert retrain_ivf_index(spark, path) is None
    assert not fsutil.exists(orphan)


# ---------------------------------------------------------------------------
# Torn-overwrite staging for the INCREMENTAL actions (r13): the review
# found the ADVICE-r12 hole was closed only for the two full rebuilds —
# upsert/split/merge still committed via the per-partition
# delete-then-rename overwrite and resumed from the (possibly holed)
# live directories. Each now stages its final cells + membership spans
# before the manifest and resumes from the snapshot.
# ---------------------------------------------------------------------------


def _vc(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _batch(spark):
    adds = _vc(spark, [(100 + i, _vec(i + 5)) for i in range(6)])
    removes = spark.createDataFrame([(3,), (7,)], "vec_id long")
    return adds, removes


def _idx_state(spark, path):
    return (sorted(map(tuple, spark.read.parquet(path)
                       .select("vec_id", "cell").collect())),
            sorted(map(tuple, spark.read.parquet(
                os.path.join(path, "_vecmeta"))
                .select("vec_id", "cell").collect())))


def test_upsert_torn_overwrite_restored_on_rerun(spark, corpus, tmp_path,
                                                 ivf4_template):
    """An upsert crash with the manifest durable + one touched cell dir
    holed (the torn per-partition overwrite) must lose NOTHING: the
    re-run restores from the staged snapshot at entry, then re-applies
    the idempotent batch — final state equal to a never-crashed twin."""
    path, clean = str(tmp_path / "torn"), str(tmp_path / "clean")
    _link_copy(ivf4_template, path)
    _link_copy(ivf4_template, clean)
    adds, removes = _batch(spark)
    upsert_ivf_index(spark, clean, adds=adds, removes=removes)

    real_write, crashing = _crash_after_write("_ivf_upsert_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_ivf_index(spark, path, adds=adds, removes=removes)
    finally:
        fsutil.write_text = real_write

    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_ivf_upsert_pending.json")))
    assert pend.get("staging") is True
    fsutil.delete(os.path.join(path, f"cell={int(pend['cells'][0])}"))

    upsert_ivf_index(spark, path, adds=adds, removes=removes)
    assert _idx_state(spark, path) == _idx_state(spark, clean)
    assert not fsutil.exists(os.path.join(path, "_upsert_staging"))
    assert not fsutil.exists(
        os.path.join(path, "_ivf_upsert_pending.json"))


def test_other_actions_restore_torn_upsert_first(spark, corpus,
                                                 tmp_path, ivf4_template):
    """split/merge/retrain read cell directories at entry — a torn
    upsert's hole would flow straight into their rewrite input. Each
    must restore the staged upsert FIRST (here: the split path)."""
    path = str(tmp_path / "torn")
    _link_copy(ivf4_template, path)
    adds, removes = _batch(spark)

    real_write, crashing = _crash_after_write("_ivf_upsert_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_ivf_index(spark, path, adds=adds, removes=removes)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_ivf_upsert_pending.json")))
    fsutil.delete(os.path.join(path, f"cell={int(pend['cells'][0])}"))

    split_ivf_cell(spark, path)
    idx = spark.read.parquet(path)
    expected = corpus.count() + 6 - 2     # the restored batch's state
    assert idx.count() == expected, "rows lost across the restore"
    assert idx.select("vec_id").distinct().count() == expected
    assert not fsutil.exists(
        os.path.join(path, "_ivf_upsert_pending.json"))


def test_split_torn_overwrite_resumes_from_staging(spark, corpus,
                                                   tmp_path, ivf4_template):
    """Split crash with manifest durable + the split cell's dir holed:
    the resume must rewrite from staging with the MANIFEST's trained
    sub-codebook (never re-train over the holed union) — equal to a
    never-crashed twin."""
    path, clean = str(tmp_path / "torn"), str(tmp_path / "clean")
    _link_copy(ivf4_template, path)
    _link_copy(ivf4_template, clean)
    split_ivf_cell(spark, clean)

    real_write, crashing = _crash_after_write("_ivf_split_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            split_ivf_cell(spark, path)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_ivf_split_pending.json")))
    assert pend.get("staging") is True and pend.get("sub")
    fsutil.delete(os.path.join(path, f"cell={int(pend['cell'])}"))
    assert spark.read.parquet(path).count() < corpus.count()

    split_ivf_cell(spark, path)
    assert _idx_state(spark, path) == _idx_state(spark, clean)
    assert read_ivf_meta(path)["centroids"] == \
        read_ivf_meta(clean)["centroids"]
    assert not fsutil.exists(os.path.join(path, "_split_staging"))
    assert not fsutil.exists(os.path.join(path, "_ivf_split_pending.json"))


def test_merge_torn_overwrite_resumes_from_staging(spark, corpus,
                                                   tmp_path, ivf4_template):
    """Merge crash with manifest durable + the dst dir holed: the
    resume must rewrite dst from staging — the old union-of-dirs input
    would have seen only src's rows and silently dropped dst's."""
    path, clean = str(tmp_path / "torn"), str(tmp_path / "clean")
    _link_copy(ivf4_template, path)
    _link_copy(ivf4_template, clean)
    # merge two POPULATED cells (the no-arg coldest pick can select an
    # empty pair on this tiny corpus, where the hole has nothing to eat)
    pop = sorted(int(r.cell) for r in spark.read.parquet(path)
                 .groupBy("cell").count().where("count > 0")
                 .select("cell").collect())
    src, dst = pop[0], pop[1]
    merge_ivf_cells(spark, clean, src=src, dst=dst)

    real_write, crashing = _crash_after_write("_ivf_merge_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_ivf_cells(spark, path, src=src, dst=dst)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_ivf_merge_pending.json")))
    assert pend.get("staging") is True
    fsutil.delete(os.path.join(path, f"cell={int(pend['dst'])}"))
    assert spark.read.parquet(path).count() < corpus.count()

    merge_ivf_cells(spark, path)
    assert _idx_state(spark, path) == _idx_state(spark, clean)
    assert read_ivf_meta(path)["dead"] == read_ivf_meta(clean)["dead"]
    assert not fsutil.exists(os.path.join(path, "_merge_staging"))
    assert not fsutil.exists(os.path.join(path, "_ivf_merge_pending.json"))


# ---------------------------------------------------------------------------
# Lexical twins of the incremental-action staging (upsert/split/merge),
# plus the compaction's docmeta tear: its membership recompute read the
# LIVE docmeta, so a holed dspan dir lost its docs' dl forever.
# ---------------------------------------------------------------------------


def _ldocs(spark, n=60):
    return spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} w{i % 11} gamma") for i in range(n)],
        "doc_id long, text string")


def _link_copy(src: str, dst: str) -> str:
    """Private mutable copy of a template index by directory-tree
    hardlink (the query layer's _mutable_copy contract: parquet rewrites
    unlink+create, descriptors go through fsutil.write_text's
    temp+rename — nothing writes an inode in place)."""
    import shutil

    def _link(s, d, **kw):
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)

    shutil.copytree(src, dst, copy_function=_link)
    return dst


@pytest.fixture(scope="module")
def lex_s4_template(spark, tmp_path_factory):
    """Session-built 4-shard lexical index template (r14, VERDICT #1:
    the torn-overwrite matrix rebuilt this identical index 7x per run —
    each test now takes a hardlink copy)."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        write_lexical_index,
    )

    p = str(tmp_path_factory.mktemp("lex_tmpl") / "s4")
    write_lexical_index(_ldocs(spark), p, shards=4)
    return p


@pytest.fixture(scope="module")
def lex_s4pos_template(spark, tmp_path_factory):
    """4-shard + positions twin template (see lex_s4_template)."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        write_lexical_index,
    )

    p = str(tmp_path_factory.mktemp("lex_tmpl_pos") / "s4pos")
    write_lexical_index(_ldocs(spark), p, shards=4, positions=True)
    return p


def _lex_batch(spark):
    adds = spark.createDataFrame(
        [(200 + i, f"delta epsilon w{i % 5} zeta") for i in range(6)],
        "doc_id long, text string")
    removes = spark.createDataFrame([(3,), (7,)], "doc_id long")
    return adds, removes


def _lex_state(spark, path):
    post = sorted(map(tuple, spark.read.parquet(
        os.path.join(path, "postings")).collect()))
    dm = sorted((r.doc_id, r.dl, sorted(r.shards), r.dspan)
                for r in spark.read.parquet(
                    os.path.join(path, "docmeta")).collect())
    return post, dm


def test_lex_upsert_torn_overwrite_restored_on_rerun(spark, tmp_path,
                                                     lex_s4pos_template):
    """A lexical upsert crash with the manifest durable + one touched
    postings shard holed must lose NOTHING: the re-run restores from
    the staged snapshot (descriptor refresh included), then re-applies
    the idempotent batch — equal to a never-crashed twin."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        upsert_lexical_index,
    )

    path = _link_copy(lex_s4pos_template, str(tmp_path / "torn"))
    clean = _link_copy(lex_s4pos_template, str(tmp_path / "clean"))
    adds, removes = _lex_batch(spark)
    upsert_lexical_index(spark, clean, adds=adds, removes=removes)

    real_write, crashing = _crash_after_write("_lex_upsert_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_lexical_index(spark, path, adds=adds, removes=removes)
    finally:
        fsutil.write_text = real_write

    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_upsert_pending.json")))
    assert pend.get("staging") is True
    hole = int(pend["shards"][0])
    fsutil.delete(os.path.join(path, "postings", f"shard={hole}"))
    fsutil.delete(os.path.join(path, "positions", f"shard={hole}"))

    upsert_lexical_index(spark, path, adds=adds, removes=removes)
    assert _lex_state(spark, path) == _lex_state(spark, clean)
    assert sorted(map(tuple, spark.read.parquet(
        os.path.join(path, "positions")).collect())) == \
        sorted(map(tuple, spark.read.parquet(
            os.path.join(clean, "positions")).collect()))
    got = json.loads(fsutil.read_text(os.path.join(path,
                                                   "_lex_meta.json")))
    want = json.loads(fsutil.read_text(os.path.join(clean,
                                                    "_lex_meta.json")))
    assert got["shard_rows"] == want["shard_rows"]
    assert got["spans"] == want["spans"]
    assert got["n"] == want["n"] and got["tl"] == want["tl"]
    assert not fsutil.exists(os.path.join(path, "_upsert_staging"))
    assert not fsutil.exists(os.path.join(path,
                                          "_lex_upsert_pending.json"))


def test_lex_other_actions_restore_torn_upsert_first(spark, tmp_path,
                                                     lex_s4_template):
    """split/merge/compact read shard directories at entry — each must
    restore a torn staged upsert FIRST (here: the split path), with the
    descriptor refresh replayed from the snapshot."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        split_lexical_shard, upsert_lexical_index,
    )

    path = _link_copy(lex_s4_template, str(tmp_path / "torn"))
    adds, removes = _lex_batch(spark)

    real_write, crashing = _crash_after_write("_lex_upsert_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_lexical_index(spark, path, adds=adds, removes=removes)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_upsert_pending.json")))
    hole = int(pend["shards"][0])
    fsutil.delete(os.path.join(path, "postings", f"shard={hole}"))

    split_lexical_shard(spark, path)
    assert not fsutil.exists(os.path.join(path,
                                          "_lex_upsert_pending.json"))
    # every batch doc present exactly once in docmeta (the restored
    # final state), and the postings carry the adds' terms
    dm = spark.read.parquet(os.path.join(path, "docmeta"))
    assert dm.where("doc_id >= 200").count() == 6
    assert dm.where("doc_id in (3, 7)").count() == 0
    post = spark.read.parquet(os.path.join(path, "postings"))
    assert post.where("term = 'epsilon'").count() == 6


def test_lex_split_torn_overwrite_resumes_from_staging(spark, tmp_path,
                                                       lex_s4_template):
    """Split crash with manifest durable + the src shard dir holed: the
    resume rewrites from staging with the MANIFEST's salt and counts —
    equal to a never-crashed twin."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        split_lexical_shard,
    )

    path = _link_copy(lex_s4_template, str(tmp_path / "torn"))
    clean = _link_copy(lex_s4_template, str(tmp_path / "clean"))
    split_lexical_shard(spark, clean)

    real_write, crashing = _crash_after_write("_lex_split_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            split_lexical_shard(spark, path)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_split_pending.json")))
    assert pend.get("staging") is True and pend.get("counts")
    fsutil.delete(os.path.join(path, "postings",
                               f"shard={int(pend['src'])}"))

    split_lexical_shard(spark, path)
    assert _lex_state(spark, path) == _lex_state(spark, clean)
    got = json.loads(fsutil.read_text(os.path.join(path,
                                                   "_lex_meta.json")))
    want = json.loads(fsutil.read_text(os.path.join(clean,
                                                    "_lex_meta.json")))
    assert got["splits"] == want["splits"]
    assert got["shard_rows"] == want["shard_rows"]
    assert not fsutil.exists(os.path.join(path, "_split_staging"))
    assert not fsutil.exists(os.path.join(path, "_lex_split_pending.json"))


def test_lex_merge_torn_overwrite_resumes_from_staging(spark, tmp_path,
                                                       lex_s4_template):
    """Merge crash with manifest durable + the dst shard dir holed: the
    resume rewrites dst from staging — the old union-of-dirs input
    would have silently dropped dst's postings."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        merge_lexical_shards,
    )

    path = _link_copy(lex_s4_template, str(tmp_path / "torn"))
    clean = _link_copy(lex_s4_template, str(tmp_path / "clean"))
    pop = sorted(int(r.shard) for r in spark.read.parquet(
        os.path.join(path, "postings"))
        .groupBy("shard").count().where("count > 0")
        .select("shard").collect())
    src, dst = pop[0], pop[1]
    merge_lexical_shards(spark, clean, src=src, dst=dst)

    real_write, crashing = _crash_after_write("_lex_merge_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_lexical_shards(spark, path, src=src, dst=dst)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_merge_pending.json")))
    assert pend.get("staging") is True
    before = spark.read.parquet(os.path.join(path, "postings")).count()
    fsutil.delete(os.path.join(path, "postings", f"shard={dst}"))
    assert spark.read.parquet(
        os.path.join(path, "postings")).count() < before

    merge_lexical_shards(spark, path)
    assert _lex_state(spark, path) == _lex_state(spark, clean)
    got = json.loads(fsutil.read_text(os.path.join(path,
                                                   "_lex_meta.json")))
    want = json.loads(fsutil.read_text(os.path.join(clean,
                                                    "_lex_meta.json")))
    assert got["splits"] == want["splits"]
    assert got["shard_rows"] == want["shard_rows"]
    assert not fsutil.exists(os.path.join(path, "_merge_staging"))
    assert not fsutil.exists(os.path.join(path, "_lex_merge_pending.json"))


def test_compact_torn_docmeta_overwrite_keeps_dl(spark, tmp_path):
    """THE residual compaction hole (r13 review): the membership
    recompute read the LIVE docmeta, so a compact resumed after a torn
    docmeta overwrite (one dspan dir holed) lost that span's docs' dl
    and membership forever. Staged docmeta makes the resume rewrite
    every span from the snapshot."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index, write_lexical_index,
    )

    from mysql_ch_replicator_spark.operators.retrieval import (
        merge_lexical_shards, split_lexical_shard,
    )

    docs = _ldocs(spark)
    path, fresh = str(tmp_path / "torn"), str(tmp_path / "fresh")
    # small span width so the docmeta has several dspan dirs to hole
    write_lexical_index(docs, path, shards=8, span_width=16)
    split_lexical_shard(spark, path)
    merge_lexical_shards(spark, path)

    real_write, crashing = _crash_after_write("_lex_compact_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_lexical_index(spark, path)
    finally:
        fsutil.write_text = real_write

    # the torn DOCMETA overwrite: one committed dspan dir gone
    span_dirs = [n for n in fsutil.list_names(
        os.path.join(path, "docmeta")) if n.startswith("dspan=")]
    fsutil.delete(os.path.join(path, "docmeta", span_dirs[0]))
    docs_left = spark.read.parquet(os.path.join(path, "docmeta")).count()
    assert docs_left < docs.count(), \
        "precondition: the hole must actually drop docmeta rows"

    k = compact_lexical_index(spark, path)
    assert k is not None
    write_lexical_index(docs, fresh, shards=k, span_width=16)
    assert _lex_state(spark, path) == _lex_state(spark, fresh)


# ---------------------------------------------------------------------------
# Cross-action resume: a torn geometry action is finished at the entry of
# a DIFFERENT geometry action (not only the upsert), from its manifest,
# with a live directory holed — no row is lost and the torn action's
# descriptor lands before the second action runs.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("family,torn,then", [
    ("lex", "split", "merge"), ("lex", "merge", "compact"),
    ("lex", "compact", "split"),
    ("ivf", "split", "merge"), ("ivf", "merge", "retrain"),
    ("ivf", "retrain", "split"),
])
def test_torn_action_finished_by_other_action_resume(
        spark, tmp_path, lex_s4_template, ivf4_template, family, torn,
        then):
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index, merge_lexical_shards, split_lexical_shard,
    )

    path = str(tmp_path / "idx")
    if family == "lex":
        _link_copy(lex_s4_template, path)
        actions = {"split": (split_lexical_shard, {}),
                   "merge": (merge_lexical_shards, {}),
                   "compact": (compact_lexical_index, {"shards": 3})}
        tables, live_root = ("postings", "docmeta"), f"{path}/postings"
    else:
        _link_copy(ivf4_template, path)
        # merge two POPULATED cells (the no-arg coldest pick can select
        # an empty pair on this tiny corpus, where no hole is possible)
        pop = sorted(int(r.cell) for r in spark.read.parquet(path)
                     .groupBy("cell").count().select("cell").collect())
        actions = {"split": (split_ivf_cell, {}),
                   "merge": (merge_ivf_cells, {"src": pop[0],
                                               "dst": pop[1]}),
                   "retrain": (retrain_ivf_index, {"force": True})}
        tables, live_root = ("", "_vecmeta"), path
    manifest = f"_{family}_{torn}_pending.json"

    def counts():
        return [spark.read.parquet(os.path.join(path, t)).count()
                for t in tables]

    before = counts()
    fn, kw = actions[torn]
    real_write, crashing = _crash_after_write(manifest)
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            fn(spark, path, **kw)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(os.path.join(path, manifest)))
    hole = next(n for n in pend["promote"][0]["live"]
                if fsutil.exists(os.path.join(live_root, n)))
    fsutil.delete(os.path.join(live_root, hole))
    assert counts()[0] < before[0], "precondition: the hole drops rows"

    fn, kw = actions[then]
    fn(spark, path, **kw)
    assert not any(n.endswith(("_staging", "_pending.json"))
                   for n in fsutil.list_names(path))
    assert counts() == before, "rows lost across the cross-action resume"
    # the torn action's descriptor landed BEFORE the second action ran
    meta = json.loads(fsutil.read_text(os.path.join(
        path, f"_{family}_meta.json")))
    if torn == "split" and family == "lex":
        assert pend["descriptor"]["splits"][-1] in meta["splits"]
    elif family == "lex":
        # the merge retired a shard (4 live -> 3) before the compaction
        # counted live shards; the compaction to 3 counts once
        assert (meta["shards"], meta["compactions"]) == (3, 1)
    elif torn == "split":
        assert len(meta["centroids"]) == pend["new_cell"]
    elif torn == "merge":
        # the merge's dead cell was compacted away: 4 - 1 live cells
        assert (meta["n_cells"], meta["retrains"]) == (3, 1)
    else:
        assert meta["retrains"] == 1


# ---------------------------------------------------------------------------
# Promotion-commit idempotence (r13b): staged PARTITIONED snapshots
# commit by per-directory delete+rename. The resume matrix: a
# manifest-listed dir absent from staging was already promoted; one
# still staged has its live twin deleted+renamed; a touched key not
# listed was emptied and its live dir is swept.
# ---------------------------------------------------------------------------


def test_promote_dirs_idempotence_matrix(spark, tmp_path):
    import shutil

    staged = tmp_path / "stage"
    live = tmp_path / "live"
    for c in (1, 2, 3):
        (staged / f"cell={c}").mkdir(parents=True)
        (staged / f"cell={c}" / "part-0").write_text(f"new{c}")
    for c in (1, 2, 3, 4):
        (live / f"cell={c}").mkdir(parents=True)
        (live / f"cell={c}" / "part-0").write_text(f"old{c}")
    live_names = ["cell=1", "cell=2", "cell=3"]
    # simulate a torn earlier pass: cell=1 fully promoted (staged dir
    # consumed), cell=2 mid-tear (live deleted, rename not yet run)
    shutil.rmtree(live / "cell=1")
    shutil.move(str(staged / "cell=1"), str(live / "cell=1"))
    shutil.rmtree(live / "cell=2")

    fsutil.promote_dirs(str(staged), str(live), "cell",
                        [1, 2, 3, 4], live_names)
    for c in (1, 2, 3):
        assert (live / f"cell={c}" / "part-0").read_text() == f"new{c}"
    assert not (live / "cell=4").exists(), "emptied key not swept"
    # a second (crash-recovery) pass over the same manifest is a no-op
    fsutil.promote_dirs(str(staged), str(live), "cell",
                        [1, 2, 3, 4], live_names)
    for c in (1, 2, 3):
        assert (live / f"cell={c}" / "part-0").read_text() == f"new{c}"


def test_upsert_torn_mid_promotion_restored(spark, corpus, tmp_path,
                                            ivf4_template):
    """A crash INSIDE the promotion loop (one cell already renamed into
    place, another's live dir deleted but its rename not run) restores
    to exactly the never-crashed state on re-run."""
    import shutil

    path, clean = str(tmp_path / "torn"), str(tmp_path / "clean")
    _link_copy(ivf4_template, path)
    _link_copy(ivf4_template, clean)
    # a batch spread across the vector space so several cells stage
    adds = _vc(spark, [(100 + i, _vec(i)) for i in range(12)])
    removes = spark.createDataFrame([(3,), (7,), (11,), (20,)],
                                    "vec_id long")
    upsert_ivf_index(spark, clean, adds=adds, removes=removes)

    real_write, crashing = _crash_after_write("_ivf_upsert_pending.json")
    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_ivf_index(spark, path, adds=adds, removes=removes)
    finally:
        fsutil.write_text = real_write
    pend = json.loads(fsutil.read_text(
        os.path.join(path, "_ivf_upsert_pending.json")))
    names = list(pend["promote"][0]["live"])
    assert len(names) >= 2, "need two staged cells for the tear"
    # cell A: promotion completed (staged dir consumed by the rename)
    a = names[0]
    shutil.rmtree(os.path.join(path, a), ignore_errors=True)
    shutil.move(os.path.join(path, "_upsert_staging", "data", a),
                os.path.join(path, a))
    # cell B: torn between delete(live) and rename(staged)
    b = names[1]
    shutil.rmtree(os.path.join(path, b), ignore_errors=True)

    upsert_ivf_index(spark, path, adds=adds, removes=removes)
    assert _idx_state(spark, path) == _idx_state(spark, clean)
    assert not fsutil.exists(os.path.join(path, "_upsert_staging"))


def test_rebuild_noop_reaps_incremental_orphans(spark, corpus, docs,
                                                tmp_path, ivf4_template):
    """The rebuilds' no-op paths reap orphaned incremental stagings
    (crash between manifest delete and staging delete) — the rebuild is
    the natural GC point; nothing references the dirs by then."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index, write_lexical_index,
    )

    path = str(tmp_path / "ivf")
    _link_copy(ivf4_template, path)
    for d in ("_upsert_staging", "_split_staging", "_merge_staging"):
        os.makedirs(os.path.join(path, d, "data"))
    assert retrain_ivf_index(spark, path) is None
    for d in ("_upsert_staging", "_split_staging", "_merge_staging"):
        assert not fsutil.exists(os.path.join(path, d)), d

    lex = str(tmp_path / "lex")
    write_lexical_index(docs, lex, shards=4)
    for d in ("_upsert_staging", "_split_staging", "_merge_staging"):
        os.makedirs(os.path.join(lex, d, "postings"))
    assert compact_lexical_index(spark, lex) is None
    for d in ("_upsert_staging", "_split_staging", "_merge_staging"):
        assert not fsutil.exists(os.path.join(lex, d)), d


# -- schema-pinned descriptor-table reads (r13 optimization round) ----------


def _job_count(spark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return len(ids or [])


def test_read_parquet_or_empty_pins_schema_no_inference_job(spark, tmp_path):
    """With a captured schema, read_parquet_or_empty must plan the read
    WITHOUT a schema-inference Spark job (the bare path pays one footer
    read per call), and the pinned frame must be value- and
    schema-identical to the bare inference read."""
    from pyspark.sql import functions as F

    from mysql_ch_replicator_spark import fsutil

    path = str(tmp_path / "tbl")
    (spark.range(64)
     .select(F.col("id").alias("doc_id"),
             (F.col("id") % 4).cast("int").alias("shard"),
             F.concat(F.lit("w"), F.col("id")).alias("term"))
     .write.partitionBy("shard").parquet(path))
    bare = spark.read.parquet(path)
    schema_json = bare.schema.json()

    j0 = _job_count(spark)
    pinned = fsutil.read_parquet_or_empty(spark, path, schema_json)
    j1 = _job_count(spark)
    assert j1 == j0, "pinned read must not launch an inference job"
    assert pinned.schema == bare.schema
    assert sorted(map(tuple, pinned.collect())) == \
        sorted(map(tuple, bare.collect()))

    # bare fallback (no schema) still infers — exactly one job
    j2 = _job_count(spark)
    fsutil.read_parquet_or_empty(spark, path, None)
    assert _job_count(spark) == j2 + 1
