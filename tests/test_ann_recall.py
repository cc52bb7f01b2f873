"""Approximation-quality floors for the ANN paths.

Correctness vs the oracle only proves the approximate algorithms compute
what they claim; these tests pin that what they claim is USEFUL — recall@10
of the LSH and IVF paths against the exact brute-force ranking. The floors
are deliberately loose (the corpus is tiny synthetic data); they catch a
bucketing scheme going degenerate (everything in one bucket, or recall ~0),
not small tuning drift."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mysql_ch_replicator_spark.operators.similarity import (
    brute_force_topk, ivf_topk, lsh_topk, train_ivf_centroids,
)

SF = "/root/testdata/sf0.01"
K = 10


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries_df(spark, corpus):
    return corpus.where(F.col("vec_id") < 20) \
        .select(F.col("vec_id").alias("query_id"), "embedding")


def _neighbors(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx: dict, exact: dict) -> float:
    hits = total = 0
    for q, truth in exact.items():
        hits += len(approx.get(q, set()) & truth)
        total += len(truth)
    return hits / total


@pytest.fixture(scope="module")
def exact(corpus, queries_df):
    return _neighbors(brute_force_topk(corpus, queries_df, K))


def test_lsh_recall_floor(corpus, queries_df, exact):
    # multi-table OR-amplification: 8 tables x 4 planes measured ~0.66 here
    approx = _neighbors(lsh_topk(corpus, queries_df, K, tables=8, planes=4))
    r = _recall(approx, exact)
    assert r >= 0.5, f"LSH recall@10 degenerate: {r:.2f}"


def test_ivf_recall_floor(corpus, queries_df, exact):
    approx = _neighbors(ivf_topk(corpus, queries_df, K,
                                 n_cells=8, probes=2))
    r = _recall(approx, exact)
    assert r >= 0.3, f"IVF recall@10 degenerate: {r:.2f}"


def test_ivf_kmeans_training_improves_recall(corpus, queries_df, exact):
    """The Lloyd refinement must actually move the needle: trained codebook
    recall@10 >= untrained (same cells/probes/data, deterministic init)."""
    dims = len(corpus.select("embedding").first()[0])
    cents = train_ivf_centroids(corpus, "embedding", n_cells=8, dims=dims,
                                iters=3)
    trained = _recall(_neighbors(ivf_topk(corpus, queries_df, K, n_cells=8,
                                          probes=2, centroids=cents)), exact)
    untrained = _recall(_neighbors(ivf_topk(corpus, queries_df, K, n_cells=8,
                                            probes=2)), exact)
    assert trained >= untrained, (
        f"k-means-refined IVF lost recall: {trained:.2f} < {untrained:.2f}")
    assert trained >= 0.3, f"trained IVF recall degenerate: {trained:.2f}"


def test_pq_rerank_recall_floor(corpus, queries_df, exact):
    """Two-stage PQ (ADC shortlist -> exact rerank) measured 0.91 at
    (m=16, codes=16, R=100); the floor catches codebook-scale or
    normalization regressions, not tuning drift."""
    from mysql_ch_replicator_spark.operators.similarity import ann_pq_topk
    approx = _neighbors(ann_pq_topk(corpus, queries_df, K,
                                    m=16, n_codes=16, shortlist=100))
    r = _recall(approx, exact)
    assert r >= 0.7, f"PQ rerank recall@10 degenerate: {r:.2f}"


def test_pq_shortlist_dial(corpus, queries_df, exact):
    """The recall dial must dial: a corpus-wide shortlist makes stage 2
    exhaustive = recall 1.0."""
    from mysql_ch_replicator_spark.operators.similarity import ann_pq_topk
    n = corpus.count()
    full = _neighbors(ann_pq_topk(corpus, queries_df, K,
                                  m=16, n_codes=16, shortlist=n))
    assert _recall(full, exact) == 1.0


def test_ivf_single_cell_is_exhaustive(corpus, queries_df, exact):
    """The recall dial must actually dial: one cell holds everything, so
    probing it is exhaustive search = recall 1.0."""
    all_cells = _neighbors(ivf_topk(corpus, queries_df, K,
                                    n_cells=1, probes=1))
    assert _recall(all_cells, exact) == 1.0


def test_connected_components_chain(spark):
    """A-B, B-C, D-E chain: closure maps {1,2,3}→1 and {4,5}→4; isolated 6→6.
    One-hop min-link would leave 3→2 (its only direct neighbor's min is 2)."""
    from mysql_ch_replicator_spark.operators.dedup import (
        _pair_min_dup, connected_components)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "a long, b long")
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    got = {r.doc_id: r.dup_of
           for r in connected_components(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    onehop = {r.doc_id: r.dup_of for r in _pair_min_dup(pairs, ids).collect()}
    assert onehop[3] == 2  # the case closure fixes


def test_mmr_rerank_prefers_diverse_results(spark):
    """MMR property check: with a near-duplicate of the top hit in the
    corpus, plain top-k ranks it second, MMR (lambda .5) pushes it down in
    favor of a less redundant candidate; rank 1 always equals the plain
    argmax. Built on a tiny synthetic corpus with a known geometry."""
    from mysql_ch_replicator_spark.operators.similarity import (
        brute_force_topk, mmr_rerank,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    # query is deliberately NOT collinear with the top hit: for a corpus
    # vector equal to the query, rel(c) == sim(c, top) makes every MMR
    # score zero and the property unobservable
    rows = [
        (1, vec(1.00, 0.10, 0.0)),   # top hit
        (2, vec(1.00, 0.12, 0.0)),   # near-dup of 1 (sim ~ 1.0)
        (3, vec(0.60, 0.80, 0.0)),   # relevant, different direction
        (4, vec(0.50, 0.00, 0.9)),   # relevant, third direction
        (5, vec(0.00, 0.00, 1.0)),   # off-topic
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(100, vec(1.0, 0.2, 0.0))],
                                    "query_id long, embedding array<float>")

    plain = {r.rank: r.neighbor_id
             for r in brute_force_topk(corpus, queries, 3).collect()}
    assert plain == {1: 2, 2: 1, 3: 3}       # near-dups take ranks 1+2

    mmr = {r.rank: r.neighbor_id
           for r in mmr_rerank(corpus, queries, k=3, shortlist=5).collect()}
    # relevance wins round 1; the near-dup (1) is demoted in favor of the
    # orthogonal directions — at lambda .5 redundancy keeps it out entirely
    assert mmr == {1: 2, 2: 3, 3: 5}


def test_ivf_partitioned_index_prunes_and_matches(spark, tmp_path, corpus,
                                                  queries_df, exact):
    """The written-index deployment shape: write_ivf_index partitions the
    corpus by cell; ivf_index_topk's probe must (a) show PartitionFilters
    on `cell` in the scan — directory-level pruning, the 100 TB read-cost
    contract — and (b) return exactly what in-memory ivf_topk returns for
    the same cells/probes."""
    from mysql_ch_replicator_spark.operators.similarity import (
        ivf_index_topk, ivf_topk, write_ivf_index,
    )

    path = str(tmp_path / "ivf_index")
    write_ivf_index(corpus, path, n_cells=8)
    got = ivf_index_topk(spark, path, queries_df, K, n_cells=8, probes=2)

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters")[1].split("]")[0]

    want = ivf_topk(corpus, queries_df, K, n_cells=8, probes=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # recall sanity rides along
    assert _recall(_neighbors(got), exact) >= 0.3


def test_ivf_index_persists_trained_centroids(spark, tmp_path, corpus,
                                              queries_df):
    """r5 verdict #4: an index written with TRAINED centroids must be
    self-describing — a probe that omits them loads the persisted
    descriptor and searches the write-time cells; a probe supplying
    DIFFERENT centroids (which would silently scan the wrong cells)
    raises; matching explicit centroids still work."""
    import pytest as _pytest

    from mysql_ch_replicator_spark.operators.similarity import (
        ivf_index_topk, read_ivf_meta, train_ivf_centroids, write_ivf_index,
    )

    DIMS = 64
    trained = train_ivf_centroids(corpus, "embedding", 4, DIMS, iters=2)
    path = str(tmp_path / "ivf_trained")
    write_ivf_index(corpus, path, n_cells=4, centroids=trained)

    meta = read_ivf_meta(path)
    assert meta["n_cells"] == 4 and meta["dims"] == DIMS
    assert meta["centroids"] == [[float(x) for x in c] for c in trained]

    bare = ivf_index_topk(spark, path, queries_df, K, probes=2)
    explicit = ivf_index_topk(spark, path, queries_df, K, n_cells=4,
                              dims=DIMS, probes=2, centroids=trained)
    assert sorted(map(tuple, bare.collect())) == \
        sorted(map(tuple, explicit.collect()))

    wrong = [[c + 5.0 for c in cent] for cent in trained]
    with _pytest.raises(ValueError, match="centroids differ"):
        ivf_index_topk(spark, path, queries_df, K, n_cells=4,
                       dims=DIMS, probes=2, centroids=wrong)
    with _pytest.raises(ValueError, match="contradict"):
        ivf_index_topk(spark, path, queries_df, K, n_cells=8,
                       dims=DIMS, probes=2)


def test_ivf_index_upsert_matches_rebuild(spark, tmp_path, corpus,
                                          queries_df):
    """upsert_ivf_index: (current ∖ add_ids ∖ removes) ∪ (adds ∖ removes)
    through partial cell rewrites must equal a from-scratch
    write_ivf_index of the final corpus — same membership, same cells,
    same probe results — and cells untouched by the batch must not be
    rewritten (their files stay byte-identical)."""
    import os

    from pyspark.sql import functions as F

    from mysql_ch_replicator_spark.operators.similarity import (
        ivf_index_topk, upsert_ivf_index, write_ivf_index,
    )

    base = corpus.where(F.col("vec_id") % 5 != 0)
    adds = corpus.where(F.col("vec_id") % 5 == 0)
    removes = corpus.where(F.col("vec_id") % 7 == 0).select("vec_id")

    inc = str(tmp_path / "inc")
    write_ivf_index(base, inc, n_cells=8)
    before = {}
    for cell_dir in os.listdir(inc):
        if cell_dir.startswith("cell="):
            d = os.path.join(inc, cell_dir)
            before[cell_dir] = sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d))
    touched = upsert_ivf_index(spark, inc, adds=adds, removes=removes)
    assert touched                    # the batch hits at least one cell

    final = corpus.where(F.col("vec_id") % 7 != 0)
    full = str(tmp_path / "full")
    write_ivf_index(final, full, n_cells=8)

    rows_inc = sorted((r.vec_id, r.cell) for r in
                      spark.read.parquet(inc).select("vec_id", "cell")
                      .collect())
    rows_full = sorted((r.vec_id, r.cell) for r in
                       spark.read.parquet(full).select("vec_id", "cell")
                       .collect())
    assert rows_inc == rows_full

    got = ivf_index_topk(spark, inc, queries_df, K, probes=2)
    want = ivf_index_topk(spark, full, queries_df, K, probes=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    untouched = [c for c in before if int(c.split("=")[1]) not in touched]
    for cell_dir in untouched:
        d = os.path.join(inc, cell_dir)
        now = sorted((f, os.path.getmtime(os.path.join(d, f)))
                     for f in os.listdir(d))
        assert now == before[cell_dir], f"{cell_dir} was rewritten"


def test_ivf_index_upsert_retry_after_torn_write(spark, tmp_path, corpus):
    """The upsert's dynamic partition overwrite is atomic per cell, not
    across cells. Simulate the torn state (one affected cell already
    holds the post-batch rows, the others don't — built by applying the
    batch restricted to that cell) and verify the documented recovery:
    re-running the SAME upsert converges to the full-batch result, and
    a third run is a no-op on membership."""
    from pyspark.sql import functions as F

    from mysql_ch_replicator_spark.operators.similarity import (
        upsert_ivf_index, write_ivf_index,
    )

    base = corpus.where(F.col("vec_id") % 5 != 0)
    adds = corpus.where(F.col("vec_id") % 5 == 0)
    removes = corpus.where(F.col("vec_id") % 7 == 0).select("vec_id")

    # the intended final index
    want_path = str(tmp_path / "want")
    write_ivf_index(base, want_path, n_cells=8)
    upsert_ivf_index(spark, want_path, adds=adds, removes=removes)
    want = sorted((r.vec_id, r.cell) for r in
                  spark.read.parquet(want_path).select("vec_id", "cell")
                  .collect())

    # torn state: the batch landed in only ONE of the affected cells
    torn_path = str(tmp_path / "torn")
    write_ivf_index(base, torn_path, n_cells=8)
    affected = upsert_ivf_index(spark, torn_path, adds=adds,
                                removes=removes)
    assert len(affected) > 1
    partial_cell = affected[0]
    # roll every OTHER affected cell back to its pre-batch contents
    rollback_cells = [c for c in affected if c != partial_cell]
    pre_idx_path = str(tmp_path / "pre_idx")
    write_ivf_index(base, pre_idx_path, n_cells=8)
    pre_rows = (spark.read.parquet(pre_idx_path)
                .where(F.col("cell").isin(rollback_cells))
                .localCheckpoint(eager=True))
    (pre_rows.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("cell").parquet(torn_path))
    torn = sorted((r.vec_id, r.cell) for r in
                  spark.read.parquet(torn_path).select("vec_id", "cell")
                  .collect())
    assert torn != want                       # genuinely torn

    # recovery: the same upsert again
    upsert_ivf_index(spark, torn_path, adds=adds, removes=removes)
    got = sorted((r.vec_id, r.cell) for r in
                 spark.read.parquet(torn_path).select("vec_id", "cell")
                 .collect())
    assert got == want

    # and once more: membership stable (idempotent)
    upsert_ivf_index(spark, torn_path, adds=adds, removes=removes)
    again = sorted((r.vec_id, r.cell) for r in
                   spark.read.parquet(torn_path).select("vec_id", "cell")
                   .collect())
    assert again == want


def test_hybrid_rrf_fuses_both_lists(spark):
    """RRF property check on a crafted corpus: a doc ranked top in BOTH
    lists must out-rank docs present in only one; a doc in neither list
    never appears; rank contributions follow SCALE div (60 + rank)."""
    from mysql_ch_replicator_spark.operators.similarity import (
        RRF_K, RRF_SCALE, hybrid_rrf_search,
    )

    docs = spark.createDataFrame(
        [(0, "table key hash table"),          # lexical hit + vector query
         (1, "table key hash key table hash"), # strongest lexical
         (2, "nothing relevant here"),
         (3, "key")],                          # weak lexical
        "doc_id long, text string")
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
         (3, [0.8, 0.2])],
        "vec_id long, embedding array<float>")

    out = hybrid_rrf_search(docs, embs, ["table", "key", "hash"],
                            query_vec_id=0, k=4, per_list=3).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 1: lexical rank 1 AND vector rank 1 (closest to query vec) ->
    # fused winner
    assert by_id[1].rank == 1
    assert by_id[1].lex_rank == 1 and by_id[1].vec_rank == 1
    assert by_id[1].rrf == 2 * (RRF_SCALE // (RRF_K + 1))
    # doc 2: no lexical hits, vector-only; contribution from one list
    assert by_id[2].lex_rank is None
    assert by_id[2].rrf == RRF_SCALE // (RRF_K + by_id[2].vec_rank)
    # doc 0 is the query vector itself: excluded from the vector list but
    # present lexically
    assert by_id[0].vec_rank is None and by_id[0].lex_rank is not None


def test_ivf_index_upsert_readd_moves_cell(spark, tmp_path, corpus):
    """Re-adding an existing vec_id whose UPDATED embedding assigns to a
    DIFFERENT cell must rewrite the old cell too — the stale row there
    would otherwise survive as a duplicate vec_id (ADVICE r6). The
    upserted index must equal a from-scratch rebuild of the updated
    corpus: one row per id, the new vector, the new cell."""
    from mysql_ch_replicator_spark.operators.similarity import (
        upsert_ivf_index, write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(corpus, path, n_cells=8)
    idx = spark.read.parquet(path).select("vec_id", "cell")
    by_cell = {}
    for r in idx.collect():
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    cells = sorted(by_cell)
    assert len(cells) >= 2
    moved_id = min(by_cell[cells[0]])
    donor_id = min(by_cell[cells[1]])
    donor_vec = (corpus.where(F.col("vec_id") == donor_id)
                 .select("embedding").first()[0])

    adds = spark.createDataFrame(
        [(moved_id, [float(x) for x in donor_vec])],
        "vec_id long, embedding array<double>")
    touched = upsert_ivf_index(spark, path, adds=adds)
    # both the old and the new cell must be in the affected set
    assert cells[0] in touched and cells[1] in touched

    got = spark.read.parquet(path)
    rows = got.where(F.col("vec_id") == moved_id).collect()
    assert len(rows) == 1, f"duplicate vec_id rows: {rows}"
    assert rows[0].cell == cells[1]
    assert [float(x) for x in rows[0].embedding] == \
        [float(x) for x in donor_vec]

    # equivalence with a from-scratch rebuild of the updated corpus
    updated = (corpus.select("vec_id", "embedding")
               .where(F.col("vec_id") != moved_id)
               .unionByName(adds))
    full = str(tmp_path / "full")
    write_ivf_index(updated, full, n_cells=8)
    assert sorted((r.vec_id, r.cell) for r in
                  got.select("vec_id", "cell").collect()) == \
        sorted((r.vec_id, r.cell) for r in
               spark.read.parquet(full).select("vec_id", "cell").collect())


def test_ivf_index_upsert_pending_manifest(spark, tmp_path, corpus):
    """Torn-batch detectability: the upsert writes an intent manifest
    with the affected cells before the destructive commit and removes it
    after — a crash in between leaves the manifest for
    pending_upsert_cells to report, and re-running the same upsert
    clears it and converges to the rebuild."""
    import pytest as _pytest

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.similarity import (
        pending_upsert_cells, upsert_ivf_index, write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(corpus.where(F.col("vec_id") % 4 == 0), path, n_cells=8)
    assert pending_upsert_cells(path) is None
    touched = upsert_ivf_index(
        spark, path, adds=corpus.where(F.col("vec_id") % 4 == 1))
    assert touched
    assert pending_upsert_cells(path) is None   # committed → manifest gone

    # tear the next batch strictly after its manifest is durable
    adds = corpus.where(F.col("vec_id") % 4 >= 2)
    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        real_write(p, text, spark=spark)
        if p.endswith("_ivf_upsert_pending.json"):
            raise RuntimeError("injected crash after manifest")

    fsutil.write_text = crashing
    try:
        with _pytest.raises(RuntimeError, match="injected crash"):
            upsert_ivf_index(spark, path, adds=adds)
    finally:
        fsutil.write_text = real_write
    pend = pending_upsert_cells(path)
    assert pend and set(pend) <= set(range(1, 9))
    # recovery is re-running the same upsert; it restores the staged
    # batch, rewrites the manifest and clears it on commit
    upsert_ivf_index(spark, path, adds=adds)
    assert pending_upsert_cells(path) is None
    full = str(tmp_path / "full")
    write_ivf_index(corpus, full, n_cells=8)
    assert sorted((r.vec_id, r.cell) for r in
                  spark.read.parquet(path).select("vec_id", "cell")
                  .collect()) == \
        sorted((r.vec_id, r.cell) for r in
               spark.read.parquet(full).select("vec_id", "cell").collect())


def test_ivf_index_upsert_clears_emptied_cell(spark, tmp_path, corpus):
    """Dynamic partition overwrite never writes (hence never clears) an
    affected cell whose merged content is empty — removing EVERY vector
    of a cell must delete the cell directory, not leave stale rows."""
    import os

    from mysql_ch_replicator_spark.operators.similarity import (
        upsert_ivf_index, write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(corpus, path, n_cells=8)
    idx = spark.read.parquet(path)
    by_cell = {}
    for r in idx.select("vec_id", "cell").collect():
        by_cell.setdefault(r.cell, []).append(r.vec_id)
    victim = min(by_cell, key=lambda c: len(by_cell[c]))
    removes = spark.createDataFrame([(v,) for v in by_cell[victim]],
                                    "vec_id long")
    touched = upsert_ivf_index(spark, path, removes=removes)
    assert victim in touched
    assert not os.path.isdir(os.path.join(path, f"cell={victim}"))
    got = spark.read.parquet(path)
    assert got.where(F.col("cell") == victim).count() == 0
    assert got.count() == sum(len(v) for v in by_cell.values()) \
        - len(by_cell[victim])


def _split_state(spark, path):
    import json
    import os

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.similarity import _IVF_MEMBERS
    rows = sorted((r.vec_id, int(r.cell)) for r in
                  spark.read.parquet(path).select("vec_id", "cell")
                  .collect())
    mem = sorted((r.vec_id, int(r.cell)) for r in
                 spark.read.parquet(os.path.join(path, _IVF_MEMBERS))
                 .select("vec_id", "cell").collect())
    meta = json.loads(fsutil.read_text(os.path.join(path, "_ivf_meta.json"),
                                       spark=spark))
    return rows, mem, meta


def test_split_ivf_cell_local_semantics(spark, tmp_path, corpus):
    """Split rewrites exactly two directories (every other cell
    byte-identical), membership matches the index, the descriptor grows
    by one centroid, and the split members' union is preserved."""
    import os

    from mysql_ch_replicator_spark.operators.similarity import (
        split_ivf_cell, write_ivf_index,
    )

    def _cell_bytes(c):
        d = os.path.join(path, f"cell={c}")
        if not os.path.isdir(d):
            return None
        return {f: open(os.path.join(d, f), "rb").read()
                for f in os.listdir(d) if f.endswith(".parquet")}

    path = str(tmp_path / "idx")
    write_ivf_index(corpus, path, n_cells=8)
    before = {(r.vec_id, int(r.cell)) for r in
              spark.read.parquet(path).select("vec_id", "cell").collect()}
    pre_bytes = {c: _cell_bytes(c) for c in range(1, 9)}
    cell, new_cell = split_ivf_cell(spark, path, iters=2)
    assert new_cell == 9
    rows, mem, meta = _split_state(spark, path)
    assert mem == rows                      # membership == index
    assert meta["n_cells"] == 9 and len(meta["centroids"]) == 9
    # only the hot cell's members moved, and only between cell/new_cell
    moved = {(v, c) for v, c in rows} - before
    assert moved and all(c in (cell, new_cell) for _, c in moved)
    assert all((v, c) in rows for v, c in before if c != cell)
    assert {v for v, c in rows} == {v for v, c in before}
    # untouched cell directories byte-identical before vs after the split
    for c in range(1, 9):
        if c == cell:
            continue
        assert _cell_bytes(c) == pre_bytes[c], c


def test_split_ivf_cell_crash_resume(spark, tmp_path, corpus):
    """A crash between the data commit and the descriptor commit leaves
    the pending manifest; re-running split_ivf_cell() resumes and
    converges to the clean split's exact state. While pending, splitting
    a DIFFERENT cell is refused."""
    import pytest as _pytest

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.similarity import (
        split_ivf_cell, write_ivf_index,
    )

    want_path = str(tmp_path / "want")
    write_ivf_index(corpus, want_path, n_cells=8)
    split_ivf_cell(spark, want_path, iters=2)
    want = _split_state(spark, want_path)

    crash_path = str(tmp_path / "crash")
    write_ivf_index(corpus, crash_path, n_cells=8)
    real_write = fsutil.write_text
    boom = {"armed": True}

    def crashing_write(p, text, spark=None):
        if boom["armed"] and p.endswith("_ivf_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing_write
    try:
        with _pytest.raises(RuntimeError, match="injected crash"):
            split_ivf_cell(spark, crash_path, iters=2)
    finally:
        fsutil.write_text = real_write
    import json
    import os
    pend = os.path.join(crash_path, "_ivf_split_pending.json")
    assert fsutil.exists(pend, spark=spark)
    hot = json.loads(fsutil.read_text(pend, spark=spark))["cell"]
    other = next(c for c in range(1, 9) if c != hot)
    with _pytest.raises(ValueError, match="unfinished split"):
        split_ivf_cell(spark, crash_path, cell=other)
    # resume converges to the clean state and clears the manifest
    split_ivf_cell(spark, crash_path, iters=2)
    assert _split_state(spark, crash_path) == want
    assert not fsutil.exists(pend, spark=spark)


def test_split_ivf_cell_resume_after_torn_data_commit(spark, tmp_path,
                                                      corpus):
    """The nastier torn state: a split crashed after its manifest landed
    and its commit left every split member in BOTH cell directories (the
    new cell dir written while the old one still holds the same rows).
    The resume promotes the staged snapshot over both, never writes
    duplicate vec_ids, and converges to the clean split's state. Bogus
    cell ids are refused BEFORE the manifest exists."""
    import os
    import shutil

    import pytest as _pytest

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.similarity import (
        pending_split, split_ivf_cell, write_ivf_index,
    )

    want_path = str(tmp_path / "want")
    write_ivf_index(corpus, want_path, n_cells=8)
    hot, new = split_ivf_cell(spark, want_path, iters=2)
    want = _split_state(spark, want_path)

    torn = str(tmp_path / "torn")
    write_ivf_index(corpus, torn, n_cells=8)
    with _pytest.raises(ValueError, match="not in"):
        split_ivf_cell(spark, torn, cell=99)
    assert pending_split(torn) is None
    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        real_write(p, text, spark=spark)
        if p.endswith("_ivf_split_pending.json"):
            raise RuntimeError("injected crash after manifest")

    fsutil.write_text = crashing
    try:
        with _pytest.raises(RuntimeError, match="injected crash"):
            split_ivf_cell(spark, torn, cell=hot, iters=2)
    finally:
        fsutil.write_text = real_write
    assert pending_split(torn) == {"cell": hot, "new_cell": new}
    # the duplicate torn state: the hot cell dir copied to the new cell
    # id wholesale, so both dirs hold every member
    shutil.copytree(os.path.join(torn, f"cell={hot}"),
                    os.path.join(torn, f"cell={new}"))
    split_ivf_cell(spark, torn)            # resume
    got = _split_state(spark, torn)
    assert got == want
    rows = got[0]
    assert len({v for v, _ in rows}) == len(rows)   # no duplicate ids
