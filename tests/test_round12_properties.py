"""Round-12 properties: probe-degeneracy guards, load-factor config
sanity, codebook retrain escalation, and filtered-probe auto-widening.

The r11 ADVICE found the first reachable degeneracy of the masked
re-argmin probe assignment: once merges exist, an index can hold fewer
LIVE cells than the requested probe count, the masked distance array
goes all-+inf, and ``array_position`` silently returns cell 1 — a
duplicate (or dead) probe slot that scores the same neighbor twice and
hands it two of the k ranks. These tests pin the clamp, the merge/split
ping-pong rejection, and the round-12 escalations above split/merge.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from mysql_ch_replicator_spark.operators.similarity import (
    brute_force_topk, ivf_assign, ivf_index_topk, merge_ivf_cells,
    read_ivf_meta, write_ivf_index,
)


def _vec(i: int) -> list[float]:
    # well-spread 3-D points, never the zero vector (cosine needs a norm)
    return [float(i % 4) * 2.0, float(i % 7) - 3.0, 1.0 + float(i % 3)]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _vec(i)) for i in range(48)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").cache()


@pytest.fixture(scope="module")
def merged_index(spark, corpus, tmp_path_factory):
    """4-cell index merged down to 3 live cells — the r11-ADVICE
    geometry where probes >= live cells becomes reachable."""
    path = str(tmp_path_factory.mktemp("ivfclamp") / "index")
    write_ivf_index(corpus, path, n_cells=4)
    live = sorted(set(range(1, 5))
                  - {int(c) for c in (read_ivf_meta(path).get("dead", []))})
    merge_ivf_cells(spark, path, src=live[0], dst=live[1])
    return path


def test_probes_clamped_to_live_cells_in_assignment(spark, corpus,
                                                    merged_index):
    """probes > live cells must yield DISTINCT, LIVE probe cells — not
    the all-+inf fallback to cell 1 (ADVICE r11)."""
    meta = read_ivf_meta(merged_index)
    dead = [int(c) for c in meta["dead"]]
    live = [c for c in range(1, meta["n_cells"] + 1) if c not in dead]
    got = ivf_assign(corpus.limit(6), "embedding", meta["n_cells"],
                     meta["dims"], probes=8, centroids=meta["centroids"],
                     dead_cells=dead).select("cells").collect()
    for r in got:
        cells = list(r.cells)
        assert len(cells) == len(live), \
            f"probes must clamp to the live count, got {cells}"
        assert len(set(cells)) == len(cells), f"duplicate probes: {cells}"
        assert not set(cells) & set(dead), f"dead cell probed: {cells}"


def test_wide_probe_on_merged_index_is_exact(spark, corpus, merged_index):
    """Probing with probes >= live cells covers the whole index, so the
    result must EQUAL brute force over the full corpus — with the
    pre-clamp degeneracy, duplicate probe cells double-scored neighbors
    and displaced real ones."""
    queries = corpus.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_index_topk(spark, merged_index, queries, k=5, probes=16)
    want = brute_force_topk(corpus, queries, 5)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # and no neighbor may occupy two ranks for one query even if a
    # duplicate survived somewhere upstream
    dup = (got.groupBy("query_id", "neighbor_id")
           .count().where(F.col("count") > 1))
    assert dup.isEmpty()


def _mk_engine(spark, tmp_path, name="replica"):
    from mysql_ch_replicator_spark.engine import ReplicaEngine

    engine = ReplicaEngine(spark, str(tmp_path / name))
    engine.create_table("db1", """CREATE TABLE vecs (
      vec_id bigint NOT NULL, emb varchar(300), PRIMARY KEY (vec_id))""")
    return engine


def test_ping_pong_load_factors_rejected(spark, tmp_path):
    """2*merge_load_factor > split_load_factor lets a merge assemble a
    partition that immediately re-trips the split (an O(partition)
    rewrite every poll, forever) — rejected at construction
    (ADVICE r11)."""
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex

    engine = _mk_engine(spark, tmp_path)
    with pytest.raises(ValueError, match="ping-pong"):
        MaintainedIndex(engine, "db1", "vecs", str(tmp_path / "ix"),
                        "ivf", payload_col="emb",
                        split_load_factor=1.5, merge_load_factor=0.9)
    # consistent factors (2*merge <= split) construct fine
    MaintainedIndex(engine, "db1", "vecs", str(tmp_path / "ix2"),
                    "ivf", payload_col="emb",
                    split_load_factor=2.0, merge_load_factor=0.5)


# -- codebook retrain escalation (r11 verdict #3) -------------------------


def test_retrain_noop_on_undrifted_index(spark, corpus, tmp_path):
    """With no dead slots and an empty action chain the geometry never
    drifted: retrain must return None WITHOUT touching the index —
    probes before/after byte-identical, descriptor unchanged."""
    from mysql_ch_replicator_spark.operators.similarity import (
        retrain_ivf_index,
    )

    path = str(tmp_path / "clean")
    write_ivf_index(corpus, path, n_cells=4)
    queries = corpus.where(F.col("vec_id") < 4) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    before = sorted(map(tuple, ivf_index_topk(
        spark, path, queries, k=5, probes=2).collect()))
    meta_before = read_ivf_meta(path)

    assert retrain_ivf_index(spark, path) is None
    assert read_ivf_meta(path) == meta_before
    after = sorted(map(tuple, ivf_index_topk(
        spark, path, queries, k=5, probes=2).collect()))
    assert after == before


def test_retrain_compacts_and_equals_from_scratch(spark, corpus, tmp_path):
    """After a merge has drifted the geometry, retrain must (a) compact
    the dead slot away, (b) reset the chain, and (c) leave an index
    whose probes EQUAL a from-scratch index built with the same trained
    codebook — the rebuild oracle."""
    from mysql_ch_replicator_spark.operators.similarity import (
        retrain_ivf_index, train_ivf_centroids,
    )

    path = str(tmp_path / "drifted")
    write_ivf_index(corpus, path, n_cells=4)
    live = sorted(set(range(1, 5))
                  - {int(c) for c in read_ivf_meta(path).get("dead", [])})
    merge_ivf_cells(spark, path, src=live[0], dst=live[1])
    assert read_ivf_meta(path).get("geometry_actions") == 1

    k = retrain_ivf_index(spark, path, iters=2)
    assert k == 3
    meta = read_ivf_meta(path)
    assert meta["n_cells"] == 3
    assert meta["dead"] == []
    assert meta["geometry_actions"] == 0
    assert meta["retrains"] == 1

    # the trained codebook is exactly quantized Lloyd over the corpus
    want_cents = train_ivf_centroids(corpus, "embedding", 3, 3, iters=2,
                                     salt="ivf-retrain")
    assert meta["centroids"] == [[float(x) for x in c]
                                 for c in want_cents]

    fresh = str(tmp_path / "fresh")
    write_ivf_index(corpus, fresh, n_cells=3, centroids=want_cents)
    queries = corpus.where(F.col("vec_id") < 6) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = sorted(map(tuple, ivf_index_topk(
        spark, path, queries, k=5, probes=2).collect()))
    want = sorted(map(tuple, ivf_index_topk(
        spark, fresh, queries, k=5, probes=2).collect()))
    assert got == want
    # membership table matches the rewritten cells
    idx = spark.read.parquet(path)
    memb = spark.read.parquet(f"{path}/_vecmeta")
    assert sorted(map(tuple, idx.select("vec_id", "cell").collect())) == \
        sorted(map(tuple, memb.select(
            "vec_id", F.col("cell").cast("int")).collect()))


def test_retrain_with_sampled_training_scan(spark, corpus, tmp_path):
    """The 100 TB shape: retrain trains its codebook on a deterministic
    hash-SAMPLE of the corpus (the re-assign pass is unchanged) and must
    equal a from-scratch index built with centroids trained on the same
    sample — the sampling is md5-threshold-deterministic, so the two
    codebooks are identical by construction."""
    from mysql_ch_replicator_spark.operators.similarity import (
        retrain_ivf_index, train_ivf_centroids,
    )

    path = str(tmp_path / "sampled")
    write_ivf_index(corpus, path, n_cells=4)
    merge_ivf_cells(spark, path)
    k = retrain_ivf_index(spark, path, iters=2, sample_fraction=0.5)
    assert k == 3
    want_cents = train_ivf_centroids(
        corpus, "embedding", 3, 3, iters=2, sample_fraction=0.5,
        id_col="vec_id", salt="ivf-retrain")
    meta = read_ivf_meta(path)
    assert meta["centroids"] == [[float(x) for x in c]
                                 for c in want_cents]
    # every vector survived re-assignment under the sampled codebook
    idx = spark.read.parquet(path)
    assert idx.count() == corpus.count()
    assert idx.select("vec_id").distinct().count() == corpus.count()


def test_retrain_preserves_meta_cols_and_filtered_probe(spark, tmp_path):
    """The retrain rewrite must carry the index's metadata payload
    columns through re-assignment — a filtered probe after retrain
    equals brute force over the matching rows (full-width probes make
    the filtered search exact over the whole corpus)."""
    from mysql_ch_replicator_spark.operators.similarity import (
        retrain_ivf_index,
    )

    rows = [(i, _vec(i), "even" if i % 2 == 0 else "odd")
            for i in range(40)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    path = str(tmp_path / "meta")
    write_ivf_index(corpus, path, n_cells=4, meta_cols=["label"])
    merge_ivf_cells(spark, path)      # coldest pair — drifts the geometry
    k = retrain_ivf_index(spark, path, iters=2)
    meta = read_ivf_meta(path)
    assert meta["meta_cols"] == ["label"]
    assert "label" in spark.read.parquet(path).columns

    queries = corpus.where(F.col("vec_id") < 4) \
        .select(F.col("vec_id").alias("query_id"), "embedding", "label")
    got = ivf_index_topk(spark, path, queries, k=3, probes=k,
                         filter_cols=["label"])
    want = []
    for lab in ("even", "odd"):
        want.extend(brute_force_topk(
            corpus.where(F.col("label") == lab),
            queries.where(F.col("label") == lab)
            .select("query_id", "embedding"), 3).collect())
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))


def test_retrain_to_explicit_cell_target(spark, corpus, tmp_path):
    """A grown corpus wants MORE cells than the build chose: an explicit
    n_cells target retrains even an undrifted index (intent overrides
    the no-op guard) and equals a from-scratch build with the same
    trained codebook."""
    from mysql_ch_replicator_spark.operators.similarity import (
        retrain_ivf_index, train_ivf_centroids,
    )

    path = str(tmp_path / "grow")
    write_ivf_index(corpus, path, n_cells=4)
    assert retrain_ivf_index(spark, path, iters=2, n_cells=6) == 6
    meta = read_ivf_meta(path)
    assert meta["n_cells"] == 6 and meta["dead"] == []
    want = train_ivf_centroids(corpus, "embedding", 6, 3, iters=2,
                               salt="ivf-retrain")
    assert meta["centroids"] == [[float(x) for x in c] for c in want]
    fresh = str(tmp_path / "fresh6")
    write_ivf_index(corpus, fresh, n_cells=6, centroids=want)
    queries = corpus.where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    assert sorted(map(tuple, ivf_index_topk(
        spark, path, queries, k=4, probes=2).collect())) == \
        sorted(map(tuple, ivf_index_topk(
            spark, fresh, queries, k=4, probes=2).collect()))


def test_compact_to_explicit_shard_target(spark, docs, tmp_path):
    """Re-sharding UP: an explicit shards target re-homes even a
    chain-free index and equals a from-scratch build at that width."""
    import os

    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, compact_lexical_index, write_lexical_index,
    )

    path = str(tmp_path / "up")
    write_lexical_index(docs, path, shards=4)
    terms = ["hash", "merge", "vector"]
    before = sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect()))
    assert compact_lexical_index(spark, path, shards=16) == 16
    fresh = str(tmp_path / "fresh16")
    write_lexical_index(docs, fresh, shards=16)
    got = spark.read.parquet(os.path.join(path, "postings"))
    want = spark.read.parquet(os.path.join(fresh, "postings"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect())) == before


def test_retrain_crash_resume_via_upsert(spark, corpus, tmp_path):
    """A retrain torn before the descriptor commit (codebook trained and
    manifested, data partially re-assigned) must be detectable
    (staged.pending) and auto-resumed by the next upsert — with the
    MANIFEST's codebook, never a re-train over torn data — converging
    to the clean-retrain state."""
    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_RETRAIN_PENDING, retrain_ivf_index, upsert_ivf_index,
    )

    path = str(tmp_path / "crash")
    write_ivf_index(corpus, path, n_cells=4)
    live = sorted(set(range(1, 5))
                  - {int(c) for c in read_ivf_meta(path).get("dead", [])})
    merge_ivf_cells(spark, path, src=live[0], dst=live[1])

    # the clean final state, computed on a parallel copy
    clean = str(tmp_path / "clean")
    write_ivf_index(corpus, clean, n_cells=4)
    merge_ivf_cells(spark, clean, src=live[0], dst=live[1])
    retrain_ivf_index(spark, clean, iters=2)

    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        if p.endswith("_ivf_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            retrain_ivf_index(spark, path, iters=2)
    finally:
        fsutil.write_text = real_write
    assert staged.pending(path, _IVF_RETRAIN_PENDING) is not None

    # next upsert resumes the retrain before applying its batch
    extra = spark.createDataFrame([(1000, _vec(17))],
                                  "vec_id long, embedding array<float>")
    upsert_ivf_index(spark, path, adds=extra)
    assert staged.pending(path, _IVF_RETRAIN_PENDING) is None
    meta = read_ivf_meta(path)
    clean_meta = read_ivf_meta(clean)
    assert meta["centroids"] == clean_meta["centroids"]
    assert meta["n_cells"] == clean_meta["n_cells"]
    assert meta["dead"] == [] and meta["geometry_actions"] == 0
    idx = spark.read.parquet(path)
    assert idx.count() == corpus.count() + 1
    assert idx.select("vec_id").distinct().count() == idx.count()
    # the post-resume index equals clean-retrain + the same upsert
    upsert_ivf_index(spark, clean, adds=extra)
    assert sorted(map(tuple, idx.select("vec_id", "cell").collect())) == \
        sorted(map(tuple, spark.read.parquet(clean)
                   .select("vec_id", "cell").collect()))


# -- IVF-PQ with exact re-ranking (round-12 surplus) -----------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet").cache()


def test_ivf_pq_unbounded_shortlist_equals_ivf(spark, emb):
    """With an unbounded shortlist the PQ stage only reorders a superset
    the exact rerank restores — the result must EQUAL ivf_topk at the
    same geometry (the composition's exactness oracle)."""
    from mysql_ch_replicator_spark.operators.similarity import (
        ivf_pq_topk, ivf_topk,
    )

    queries = emb.where(F.col("vec_id") < 8) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_pq_topk(emb, queries, k=10, n_cells=8, probes=2,
                      shortlist=10_000_000)
    want = ivf_topk(emb, queries, k=10, n_cells=8, probes=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_ivf_pq_full_coverage_equals_brute_force(spark, emb):
    """probes = n_cells + unbounded shortlist covers the whole corpus
    with exact reranking — must equal brute force."""
    from mysql_ch_replicator_spark.operators.similarity import ivf_pq_topk

    queries = emb.where(F.col("vec_id") < 4) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_pq_topk(emb, queries, k=5, n_cells=8, probes=8,
                      shortlist=10_000_000)
    want = brute_force_topk(emb, queries, 5)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_ivf_pq_recall_floor_at_defaults(spark, emb):
    """The deployed configuration (probes=2, m=16, codes=16, R=100) must
    keep a usable recall@10 vs brute force on the synthetic corpus —
    the same pinned-floor discipline as ann_pq_topk's 0.91."""
    from mysql_ch_replicator_spark.operators.similarity import ivf_pq_topk

    queries = emb.where(F.col("vec_id") < 16) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_pq_topk(emb, queries, k=10, n_cells=8, probes=2,
                      shortlist=100)
    want = brute_force_topk(emb, queries, 10)
    g = {(r.query_id, r.neighbor_id) for r in got.collect()}
    w = {(r.query_id, r.neighbor_id) for r in want.collect()}
    recall = len(g & w) / len(w)
    assert recall >= 0.55, recall   # probes=2/8 caps coverage; see note


def test_ivf_pq_candidate_stage_is_broadcast_cell_join(spark, emb):
    """The candidate stage must be a broadcast hash join on the probed
    cell — never a cartesian of corpus × queries (the corpus side never
    shuffles; at the persisted layout the cell key is the partition
    column, so this join IS the pruning)."""
    from mysql_ch_replicator_spark.operators.similarity import ivf_pq_topk

    queries = emb.where(F.col("vec_id") < 4) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    got = ivf_pq_topk(emb, queries, k=5, n_cells=8, probes=2,
                      shortlist=50)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# -- lexical placement-chain compaction (round-12 surplus: the lexical
# -- OPTIMIZE FINAL analog, twin of retrain_ivf_index) ---------------------


SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _drift_lexical(spark, docs, path, positions=False):
    """Build an 8-shard index and drift its chain: one split, one merge."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        merge_lexical_shards, split_lexical_shard, write_lexical_index,
    )

    write_lexical_index(docs, path, shards=8, positions=positions)
    split_lexical_shard(spark, path)
    merge_lexical_shards(spark, path)


def test_compact_equals_from_scratch_build(spark, docs, tmp_path):
    """After compaction the index must be byte-identical (postings,
    docmeta, descriptor geometry) to a from-scratch build with the
    live-count shards — the 'as if rebuilt' contract; BM25 probes are
    unchanged (placement-independent scores)."""
    import json
    import os

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.retrieval import (
        _live_shards, bm25_indexed_topk, compact_lexical_index,
        write_lexical_index,
    )

    path = str(tmp_path / "drifted")
    _drift_lexical(spark, docs, path)
    meta = json.loads(fsutil.read_text(os.path.join(path, "_lex_meta.json")))
    n_live = len(_live_shards(int(meta["shards"]), meta["splits"]))
    terms = ["hash", "merge", "vector"]
    before = sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect()))

    k = compact_lexical_index(spark, path)
    assert k == n_live
    meta2 = json.loads(fsutil.read_text(
        os.path.join(path, "_lex_meta.json")))
    assert meta2["splits"] == [] and meta2["shards"] == k
    assert meta2["compactions"] == 1
    assert meta2["n"] == meta["n"] and meta2["tl"] == meta["tl"]

    fresh = str(tmp_path / "fresh")
    write_lexical_index(docs, fresh, shards=k)
    for sub in ("postings", "docmeta"):
        got = spark.read.parquet(os.path.join(path, sub))
        want = spark.read.parquet(os.path.join(fresh, sub))
        cols = sorted(c for c in got.columns if c != "shards")
        assert sorted(map(tuple, got.select(*cols).collect())) == \
            sorted(map(tuple, want.select(*cols).collect())), sub
        if "shards" in got.columns:   # docmeta: set-valued column
            g = {r.doc_id: sorted(r.shards) for r in got.collect()}
            w = {r.doc_id: sorted(r.shards) for r in want.collect()}
            assert g == w
    after = sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect()))
    assert after == before


def test_compact_noop_on_empty_chain(spark, docs, tmp_path):
    """An empty chain is base placement already: compaction returns
    None without touching the index."""
    import json
    import os

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index, write_lexical_index,
    )

    path = str(tmp_path / "clean")
    write_lexical_index(docs, path, shards=8)
    before = fsutil.read_text(os.path.join(path, "_lex_meta.json"))
    assert compact_lexical_index(spark, path) is None
    assert fsutil.read_text(os.path.join(path, "_lex_meta.json")) == before


def test_compact_moves_positions_twin(spark, docs, tmp_path):
    """On a positional index the compaction re-homes the positions
    table with the same fresh placement — phrase probes keep working
    and equal the pre-compaction answer."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        compact_lexical_index, phrase_match_indexed,
    )

    path = str(tmp_path / "pos")
    _drift_lexical(spark, docs, path, positions=True)
    phrase = ["data", "processing"]
    before = sorted(map(tuple, phrase_match_indexed(
        spark, path, phrase, k=10).collect()))
    assert compact_lexical_index(spark, path) is not None
    after = sorted(map(tuple, phrase_match_indexed(
        spark, path, phrase, k=10).collect()))
    assert after == before


def test_compact_crash_resume_via_upsert(spark, docs, tmp_path):
    """A compaction torn before the descriptor commit is detectable
    (staged.pending) and auto-resumed by the next upsert,
    converging to the clean-compaction state with the batch applied
    against the compacted placement."""
    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.retrieval import (
        _LEX_COMPACT_PENDING, bm25_indexed_topk, bm25_topk,
        compact_lexical_index, upsert_lexical_index,
    )

    path = str(tmp_path / "crash")
    _drift_lexical(spark, docs, path)
    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        if p.endswith("_lex_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_lexical_index(spark, path)
    finally:
        fsutil.write_text = real_write
    assert staged.pending(path, _LEX_COMPACT_PENDING) is not None

    upsert_lexical_index(
        spark, path,
        adds=docs.where(F.col("doc_id") % 5 == 0),
        removes=docs.where(F.col("doc_id") % 7 == 0).select("doc_id"))
    assert staged.pending(path, _LEX_COMPACT_PENDING) is None

    final = docs.where(F.col("doc_id") % 7 != 0)
    got = sorted(map(tuple, bm25_indexed_topk(
        spark, path, ["hash", "merge", "vector"], k=10).collect()))
    want = sorted(map(tuple, bm25_topk(
        final, ["hash", "merge", "vector"], k=10).collect()))
    assert got == want


def test_maintained_lexical_compaction_policy(spark, tmp_path):
    """The lexical arm of the geometry-rebuild escalation: a chain of
    retrain_after length makes the next maybe_rebalance poll return one
    compact action; the chain resets; polls converge to idle."""
    import json as _json

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.operators.retrieval import (
        merge_lexical_shards, split_lexical_shard,
    )
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE docs (
      doc_id bigint NOT NULL, body varchar(255), PRIMARY KEY (doc_id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db1", "docs",
            [(i, f"alpha beta w{i % 23} z{i % 7}") for i in range(64)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    path = str(tmp_path / "lex")
    ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                         payload_col="body", retrain_after=2, shards=8)
    ix.build()
    split_lexical_shard(spark, path)
    merge_lexical_shards(spark, path)
    st = ix.status()
    assert st["chain_length"] == 2

    act = ix.maybe_rebalance()
    assert act is not None and act.startswith("compact:")
    meta = _json.loads(fsutil.read_text(f"{path}/_lex_meta.json"))
    assert meta["splits"] == []
    st = ix.status()
    assert st["chain_length"] == 0 and st["n_dead_cells"] == 0
    assert ix.maybe_rebalance() is None


# -- FAIR scheduler pools: the cluster-deployment shape (r11 verdict #7) --


_FAIR_E2E_SCRIPT = r"""
import json, os, sys, threading
sys.path.insert(0, os.environ["R12_REPO"])
from pyspark.sql import functions as F
from mysql_ch_replicator_spark.plans.session import get_spark
from mysql_ch_replicator_spark.engine import ReplicaEngine
from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
from mysql_ch_replicator_spark.optimizer import ReplicaOptimizer
from mysql_ch_replicator_spark.sources.event_log import EventLogWriter

spark = get_spark("fair-e2e", master="local[8]",
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.scheduler.mode") == "FAIR", "mode not FAIR"
sc = spark.sparkContext._jsc.sc()
for pool in ("apply", "maintenance"):
    assert sc.getPoolForName(pool).isDefined(), f"pool {pool} missing"

root = os.environ["R12_SCRATCH"]
engine = ReplicaEngine(spark, os.path.join(root, "replica"))
engine.create_table("db1", "CREATE TABLE docs ("
                    "doc_id bigint NOT NULL, body varchar(255), "
                    "PRIMARY KEY (doc_id))")
log_dir = os.path.join(root, "log")
log = EventLogWriter(log_dir, live=True)
log.add("db1", "docs",
        [(i, f"alpha beta w{i % 7}") for i in range(300)])
log.rotate()
ckpt = os.path.join(root, "ckpt")
q = engine.start_streaming(log_dir, ckpt, trigger_seconds=0.05,
                           max_files_per_trigger=2)
q.processAllAvailable(); q.stop()

path = os.path.join(root, "lexidx")
ix = MaintainedIndex(engine, "db1", "docs", path, "lexical",
                     payload_col="body", max_lag_seconds=0.0, shards=4)
ix.build()
opt = ReplicaOptimizer(engine, interval=1e9, indexes=[ix])

for b in range(4):
    log.add("db1", "docs",
            [(1000 + b * 50 + j, f"gamma delta w{j % 7}")
             for j in range(50)])
    log.rotate()
log.remove("db1", "docs", [(0,), (1,)])
log.rotate()

worst = [0]
applied = [0]
stop = threading.Event()
def maintain():
    while not stop.is_set():
        try:
            worst[0] = max(worst[0], ix.status()["versions_behind"])
            acts = opt.maybe_maintain_indexes()
            applied[0] += sum(1 for _, a in acts if a == "apply")
        except Exception:
            pass
        stop.wait(0.5)

q2 = engine.start_streaming(log_dir, ckpt, trigger_seconds=0.05,
                            max_files_per_trigger=2)
t = threading.Thread(target=maintain, daemon=True)
t.start()
try:
    q2.processAllAvailable()
finally:
    stop.set(); t.join(timeout=10); q2.stop()
while ix.status()["versions_behind"] > 0:
    ix.apply()
s = ix.status()
assert s["versions_behind"] == 0, s
docmeta = spark.read.parquet(os.path.join(path, "docmeta"))
ids = {int(r.doc_id) for r in docmeta.select("doc_id").collect()}
assert 1000 in ids and 1199 in ids and 0 not in ids and 1 not in ids
print("FAIR_E2E_OK", json.dumps({"worst_behind": worst[0],
                                 "applies": applied[0]}))
"""


@pytest.mark.heavy
def test_fair_pools_maintained_streaming_e2e(tmp_path):
    """The deployment shape the pools ship for (r11 verdict #7): with
    FAIR mode ON (subprocess — scheduler mode is fixed at context init)
    and both named pools loaded from fairscheduler.xml, the streaming
    apply + concurrent index maintenance e2e must still converge: index
    catches up to 0 behind, deletes applied, adds probeable. Keeps the
    opt-in cluster path from rotting while FIFO stays the measured
    local default (plans/session.py A/B note)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ,
               SPARK_GRAFT_SCHEDULER="FAIR",
               R12_REPO=repo,
               R12_SCRATCH=str(tmp_path))
    r = subprocess.run([sys.executable, "-c", _FAIR_E2E_SCRIPT],
                       env=env, capture_output=True, text=True,
                       timeout=600)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "FAIR_E2E_OK" in r.stdout, r.stdout[-2000:]


# -- filtered-probe auto-widening (r11 verdict #4) ------------------------


@pytest.fixture(scope="module")
def widen_setup(spark, tmp_path_factory):
    """Corpus engineered so a selective label filter under-returns at
    narrow probes: the query carries the RARE label but its vector sits
    inside the COMMON cluster, so its nearest cells hold zero matching
    candidates — exactly the silent-under-return shape the recall
    contract warns about."""
    common = [(i, [10.0 + (i % 5) * 0.1, float(i % 3), 1.0], "c")
              for i in range(30)]
    rare = [(100 + i, [-10.0 - (i % 4) * 0.1, float(i % 3), 1.0], "r")
            for i in range(8)]
    corpus = spark.createDataFrame(
        common + rare,
        "vec_id long, embedding array<float>, label string").cache()
    path = str(tmp_path_factory.mktemp("widen") / "index")
    write_ivf_index(corpus, path, n_cells=8, meta_cols=["label"])
    queries = spark.createDataFrame(
        [(0, [10.0, 0.5, 1.0], "r"), (1, [10.0, 1.5, 1.0], "c")],
        "query_id long, embedding array<float>, label string")
    return corpus, path, queries


def test_auto_widen_reaches_min_results(spark, widen_setup):
    """With >= k matching rows in the corpus and a selective predicate,
    min_results must widen the probe until exactly k rows return, equal
    to the brute-force filtered oracle — while a query already
    satisfied at the narrow width keeps its original (narrow) ranking."""
    corpus, path, queries = widen_setup
    narrow = ivf_index_topk(spark, path, queries, k=5, probes=1,
                            filter_cols=["label"])
    by_q = {r.query_id: r.n for r in
            narrow.groupBy("query_id").agg(
                F.count(F.lit(1)).alias("n")).collect()}
    assert by_q.get(0, 0) < 5, \
        "precondition: the rare-label query must under-return narrowly"

    got = ivf_index_topk(spark, path, queries, k=5, probes=1,
                         filter_cols=["label"], min_results=5)
    rare_rows = sorted(map(tuple, got.where(
        F.col("query_id") == 0).collect()))
    assert len(rare_rows) == 5
    want = brute_force_topk(
        corpus.where(F.col("label") == "r"),
        queries.where(F.col("query_id") == 0)
        .select("query_id", "embedding"), 5)
    assert rare_rows == sorted(map(tuple, want.collect()))
    # the satisfied query's rows are its NARROW rows, untouched
    assert sorted(map(tuple, got.where(F.col("query_id") == 1)
                      .collect())) == \
        sorted(map(tuple, narrow.where(F.col("query_id") == 1)
                   .collect()))


def test_auto_widen_keeps_partition_pruning(spark, widen_setup):
    """Every pass of the widened probe — including the re-probe — must
    stay a partition-pruned scan of the probed cells, never a full
    index scan."""
    _, path, queries = widen_setup
    got = ivf_index_topk(spark, path, queries, k=5, probes=1,
                         filter_cols=["label"], min_results=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_auto_widen_short_corpus_means_short_result(spark, widen_setup):
    """min_results larger than the matching-row count must exhaust the
    live cells and return exactly the corpus's matches — a short result
    now MEANS the corpus is short, the distinguishability the r11
    verdict asked for."""
    corpus, path, _ = widen_setup
    q = spark.createDataFrame(
        [(0, [10.0, 0.5, 1.0], "r")],
        "query_id long, embedding array<float>, label string")
    got = ivf_index_topk(spark, path, q, k=20, probes=1,
                         filter_cols=["label"], min_results=20)
    n_rare = corpus.where(F.col("label") == "r").count()
    assert got.count() == n_rare


def test_maintained_retrain_policy_fires_and_resets(spark, tmp_path):
    """Policy e2e: an accumulated split/merge chain reaching
    ``retrain_after`` makes the next maybe_rebalance poll return ONE
    retrain action (preempting split/merge); the chain resets; polls
    converge to idle; probes still answer."""
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.operators.similarity import (
        merge_ivf_cells, read_ivf_meta,
    )
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE vecs (
      vec_id bigint NOT NULL, emb varchar(300), PRIMARY KEY (vec_id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db1", "vecs",
            [(i, json.dumps(_vec(i))) for i in range(64)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    path = str(tmp_path / "ivf")
    ix = MaintainedIndex(engine, "db1", "vecs", path, "ivf",
                         payload_col="emb",
                         payload_expr=F.from_json(F.col("emb"),
                                                  "array<float>"),
                         retrain_after=2, n_cells=8)
    ix.build()

    # drift the geometry: two manual merges = chain length 2
    for _ in range(2):
        merge_ivf_cells(spark, path)
    assert read_ivf_meta(path)["geometry_actions"] == 2
    st = ix.status()
    assert st["n_dead_cells"] == 2 and st["chain_length"] == 2

    act = ix.maybe_rebalance()
    assert act is not None and act.startswith("retrain:")
    meta = read_ivf_meta(path)
    assert meta["geometry_actions"] == 0 and meta["dead"] == []
    assert meta["n_cells"] == 6 and meta["retrains"] == 1
    st = ix.status()
    assert st["n_dead_cells"] == 0 and st["chain_length"] == 0
    assert st["retrains"] == 1
    assert ix.maybe_rebalance() is None    # converged to idle

    q = spark.createDataFrame([(999, [1.0, 0.0, 1.0])],
                              "query_id long, embedding array<float>")
    assert ivf_index_topk(spark, path, q, k=3, probes=2).count() == 3
