"""Round-11 properties: metadata-FILTERED probes on both persisted
index families (r10 verdict #1).

Filtered vector/lexical search is the default production RAG query
("nearest neighbors WHERE lang='en'"); these tests pin the two contracts
that make it correct at 100 TB:

- PRE-filter completeness: the predicate lands before ranking (inside
  the probed cells' join / on the shard-pruned postings), never as a
  post-filter of an unfiltered top-k — verified cross-primitive, by
  comparing against an index built over ONLY the matching rows with the
  SAME centroids (same geometry → same probed cells → identical
  candidate sets).
- Scan shape: the filter must not disturb the planning-time partition
  pruning that makes index probes O(probed partitions).
"""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from mysql_ch_replicator_spark.operators.similarity import (
    ivf_index_topk, read_ivf_meta, split_ivf_cell, upsert_ivf_index,
    write_ivf_index,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def meta_index(spark, emb, tmp_path_factory):
    """Label-carrying IVF index over the full corpus, built 80% + 20%
    through the incremental upsert — so every test here also exercises
    metadata carry-through on the O(batch) path."""
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    write_ivf_index(emb.where(F.col("vec_id") % 5 != 0), path,
                    n_cells=8, meta_cols=["label"])
    upsert_ivf_index(spark, path,
                     adds=emb.where(F.col("vec_id") % 5 == 0))
    return path


@pytest.fixture(scope="module")
def queries_df(emb):
    return emb.where(F.col("vec_id") < 12) \
        .select(F.col("vec_id").alias("query_id"), "embedding", "label")


@pytest.mark.heavy
def test_filtered_probe_equals_label_subindex(spark, emb, meta_index,
                                              queries_df, tmp_path):
    """Cross-primitive completeness: filtering candidates by label
    inside the probed cells must equal probing an index that CONTAINS
    only that label's vectors — with the same persisted centroids, the
    cell geometry (and so the probed candidate set) is identical, and
    the filter's only effect is membership. A post-filter of an
    unfiltered top-k would fail this whenever a query's k nearest
    overall are label-mismatched."""
    got = ivf_index_topk(spark, meta_index, queries_df, k=5, probes=2,
                         filter_cols=["label"]).collect()

    cents = read_ivf_meta(meta_index)["centroids"]
    want = []
    for lab in {r.label for r in queries_df.select("label").collect()}:
        sub = str(tmp_path / f"sub_{lab}")
        write_ivf_index(emb.where(F.col("label") == lab), sub,
                        n_cells=8, centroids=cents)
        q = queries_df.where(F.col("label") == lab) \
            .select("query_id", "embedding")
        want.extend(ivf_index_topk(spark, sub, q, k=5, probes=2)
                    .collect())
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_filtered_probe_keeps_partition_pruning(spark, meta_index,
                                                queries_df):
    """The predicate must ride INSIDE the probed-cell scan+join, not
    defeat it: PartitionFilters on `cell` stays in the executed plan
    with filter_cols attached."""
    got = ivf_index_topk(spark, meta_index, queries_df, k=5, probes=2,
                         filter_cols=["label"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters")[1].split("]")[0]


def test_filtered_probe_validates_carried_columns(spark, emb, tmp_path,
                                                  queries_df):
    """Filtering on a column the index does not carry must raise at
    planning time (silent NULL-metadata matches would return wrong
    results); an upsert whose adds frame lacks a carried column must
    raise the same way."""
    bare = str(tmp_path / "bare")
    write_ivf_index(emb, bare, n_cells=8)          # no meta_cols
    with pytest.raises(ValueError, match="not carried"):
        ivf_index_topk(spark, bare, queries_df, k=5,
                       filter_cols=["label"])

    carrying = str(tmp_path / "carrying")
    write_ivf_index(emb.where(F.col("vec_id") % 5 != 0), carrying,
                    n_cells=8, meta_cols=["label"])
    with pytest.raises(ValueError, match="lacks"):
        upsert_ivf_index(
            spark, carrying,
            adds=emb.where(F.col("vec_id") % 5 == 0)
            .select("vec_id", "embedding"))        # label dropped


def test_meta_cols_survive_cell_split(spark, emb, meta_index, tmp_path,
                                      queries_df):
    """split_ivf_cell rewrites full rows (it only changes `cell`), so a
    label-carrying index stays filterable after a split. Splits are
    LOCAL (membership, not global nearest-centroid, defines candidates
    — the split docstring's contract), so the reference here is the
    index's OWN unfiltered ranking: filtered top-k must equal the
    COMPLETE unfiltered ranking post-filtered by label and re-ranked —
    equivalent to pre-filtering only because the full ranking is kept
    (post-filtering a TOP-K would under-return; that is the bug class
    the main completeness test kills)."""
    import shutil

    path = str(tmp_path / "split_copy")
    shutil.copytree(meta_index, path)
    split_ivf_cell(spark, path)

    idx = spark.read.parquet(path)
    assert "label" in idx.columns
    assert idx.where(F.col("label").isNull()).count() == 0

    got = ivf_index_topk(spark, path, queries_df, k=5, probes=2,
                         filter_cols=["label"]).collect()
    full = ivf_index_topk(spark, path, queries_df, k=10_000_000,
                          probes=2)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("label").alias("nlabel"))
    qlab = queries_df.select(F.col("query_id"),
                             F.col("label").alias("qlabel"))
    w = Window.partitionBy("query_id") \
        .orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    want = (full.join(labels, "neighbor_id").join(qlab, "query_id")
            .where(F.col("nlabel") == F.col("qlabel"))
            .select("query_id", "neighbor_id", "cos")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "neighbor_id", "rank", "cos"))
    assert sorted(map(tuple, got)) == sorted(map(tuple, want.collect()))


def test_bm25_doc_filter_is_prefilter_not_postfilter(spark, tmp_path):
    """Filtered lexical retrieval: scores keep CORPUS statistics, the
    allowed set restricts which docs are scored/returned, and the top-k
    is complete under the predicate. Reference = score the full corpus
    (bm25_topk at corpus-size k), restrict to allowed, re-rank — the
    canonical filtered-search contract."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, bm25_topk, write_lexical_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path)
    terms = ["hash", "merge", "vector"]
    allowed = docs.where(F.col("lang") == "en").select("doc_id")

    got = bm25_indexed_topk(spark, path, terms, k=10,
                            doc_filter=allowed)

    full = bm25_topk(docs, terms, k=10_000_000)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    want = (full.join(allowed, "doc_id", "left_semi")
            .select("doc_id", "score")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # the filter genuinely changed the result (the predicate is
    # selective in this corpus) — otherwise the property is vacuous
    unfiltered = bm25_indexed_topk(spark, path, terms, k=10)
    assert sorted(map(tuple, got.collect())) != \
        sorted(map(tuple, unfiltered.collect()))


# ---------------------------------------------------------------------------
# Merge actions — the shrink half of the load-factor policy (r10 verdict #3)
# ---------------------------------------------------------------------------


@pytest.mark.heavy
def test_ivf_split_then_merge_round_trip(spark, emb, tmp_path):
    """Split a cell, merge the new cell straight back into its source:
    the DATA round-trips byte-identically — every row returns to its
    original directory, membership matches, nothing lost or duplicated
    — so ANY probe whose cell set matches returns identical rows.
    (2-probe results may legitimately differ in which cells they visit:
    the split replaces the source centroid with its sub-codebook seed,
    so query→cell routing is finer afterwards — membership, not global
    nearest-centroid consistency, is the standing contract. Exhaustive
    probes are NOT used here: ivf_assign's masked re-argmin grows its
    expression tree per probe, and probes=n_cells is outside the
    designed operating range.)"""
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MEMBERS, merge_ivf_cells, read_ivf_meta, split_ivf_cell,
        write_ivf_index,
    )

    path = str(tmp_path / "rt")
    write_ivf_index(emb, path, n_cells=8)
    queries = emb.where(F.col("vec_id") < 10) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    layout_before = sorted(
        (int(r.vec_id), int(r.cell))
        for r in spark.read.parquet(path).collect())

    src, new = split_ivf_cell(spark, path)
    got = merge_ivf_cells(spark, path, src=new, dst=src)
    assert got == (new, src)
    meta = read_ivf_meta(path)
    assert meta["dead"] == [new]
    assert len(meta["centroids"]) == 9      # slot kept, masked

    layout_after = sorted(
        (int(r.vec_id), int(r.cell))
        for r in spark.read.parquet(path).collect())
    assert layout_after == layout_before
    memb = sorted((int(r.vec_id), int(r.cell)) for r in spark.read
                  .parquet(f"{path}/{_IVF_MEMBERS}").collect())
    assert memb == layout_before
    # probes over the round-tripped index stay well-formed: full k per
    # query, no dead-cell candidates (their directory no longer exists),
    # no duplicate neighbors from the two-directory crash window
    res = ivf_index_topk(spark, path, queries, k=5, probes=2)
    rows = res.collect()
    assert len(rows) == 50 and len({(r.query_id, r.neighbor_id)
                                    for r in rows}) == 50


def test_ivf_merge_coldest_and_upsert_avoids_dead(spark, emb, tmp_path):
    """Argument-free merge picks the two coldest live cells; afterwards
    the src directory is gone, row count is preserved, membership is
    consistent, and a later upsert's adds NEVER assign to the dead
    cell (the +inf mask on the shared assignment path)."""
    import os

    from mysql_ch_replicator_spark.operators.similarity import (
        merge_ivf_cells, read_ivf_meta, upsert_ivf_index, write_ivf_index,
    )

    path = str(tmp_path / "cold")
    write_ivf_index(emb.where(F.col("vec_id") % 5 != 0), path, n_cells=8)
    n_before = spark.read.parquet(path).count()
    counts = {c: 0 for c in range(1, 9)}   # live-but-EMPTY cells count
    counts.update({r.cell: r["count"] for r in spark.read.parquet(path)
                   .groupBy("cell").count().collect()})
    a, b = sorted(counts, key=lambda c: (counts[c], c))[:2]

    src, dst = merge_ivf_cells(spark, path)
    assert {src, dst} == {a, b}
    assert counts[dst] >= counts[src]
    assert not os.path.exists(os.path.join(path, f"cell={src}"))
    assert spark.read.parquet(path).count() == n_before
    memb = spark.read.parquet(os.path.join(path, "_vecmeta"))
    assert memb.where(F.col("cell") == src).count() == 0

    upsert_ivf_index(spark, path,
                     adds=emb.where(F.col("vec_id") % 5 == 0))
    idx = spark.read.parquet(path)
    assert idx.where(F.col("cell") == src).count() == 0
    assert idx.count() == emb.count()
    # probes still green against the post-merge geometry: dead cell
    # never probed, moved rows reachable via dst
    q = emb.where(F.col("vec_id") < 6) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    res = ivf_index_topk(spark, path, q, k=3, probes=2)
    assert res.count() == 18
    assert read_ivf_meta(path)["dead"] == [src]


def test_ivf_merge_crash_resume_via_upsert(spark, emb, tmp_path):
    """A merge torn before the descriptor commit (data moved, src dir
    deleted, membership rewritten) must be detectable
    (staged.pending) and auto-resumed by the next upsert, converging to
    the clean-merge state."""
    import json
    import os

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MERGE_PENDING, merge_ivf_cells, read_ivf_meta,
        upsert_ivf_index, write_ivf_index,
    )

    path = str(tmp_path / "crash")
    write_ivf_index(emb.where(F.col("vec_id") % 5 != 0), path, n_cells=8)
    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        if p.endswith("_ivf_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_ivf_cells(spark, path)
    finally:
        fsutil.write_text = real_write
    pend = staged.pending(path, _IVF_MERGE_PENDING)
    assert pend is not None

    upsert_ivf_index(spark, path,
                     adds=emb.where(F.col("vec_id") % 5 == 0))
    assert staged.pending(path, _IVF_MERGE_PENDING) is None
    meta = read_ivf_meta(path)
    assert meta["dead"] == [pend["src"]]
    idx = spark.read.parquet(path)
    assert idx.count() == emb.count()
    assert idx.where(F.col("cell") == pend["src"]).count() == 0
    # no duplicate vec_ids survived the torn state
    assert idx.select("vec_id").distinct().count() == idx.count()


def test_lexical_split_then_merge_probe_byte_stable(spark, tmp_path):
    """The lexical round trip: split a shard, merge the destination
    straight back — the chain composes (split: odd terms src->dst,
    merge: dst->src unconditionally), so every term's placement,
    every df, and every BM25 score is exactly what the pre-split index
    produced."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, merge_lexical_shards, split_lexical_shard,
        write_lexical_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "lex_rt")
    write_lexical_index(docs, path, shards=8)
    terms = ["hash", "merge", "vector"]
    before = sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect()))

    src, dst = split_lexical_shard(spark, path)
    got = merge_lexical_shards(spark, path, src=dst, dst=src)
    assert got == (dst, src)

    after = sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect()))
    assert after == before
    # placement chain: two entries, the merge one salt-less
    import json
    import os
    meta = json.loads(open(os.path.join(path, "_lex_meta.json")).read())
    assert len(meta["splits"]) == 2
    assert meta["splits"][1]["salt"] is None


def test_lexical_merge_coldest_keeps_scores_exact(spark, tmp_path):
    """Argument-free lexical merge of the two coldest shards: the src
    directory is gone, the descriptor's shard_rows stays EXACT (equal
    to a fresh postings count), membership arrays are rewritten, and
    BM25 against the merged index still matches the corpus-scan scorer
    bit-for-bit (placement is a pure function of the chain)."""
    import json
    import os

    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, bm25_topk, merge_lexical_shards,
        write_lexical_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "lex_cold")
    write_lexical_index(docs, path, shards=8)
    src, dst = merge_lexical_shards(spark, path)
    assert not os.path.exists(os.path.join(path, "postings",
                                           f"shard={src}"))

    meta = json.loads(open(os.path.join(path, "_lex_meta.json")).read())
    actual = {str(r.shard): r["count"] for r in
              spark.read.parquet(os.path.join(path, "postings"))
              .groupBy("shard").count().collect()}
    assert meta["shard_rows"] == actual
    memb = spark.read.parquet(os.path.join(path, "docmeta"))
    assert memb.where(F.array_contains("shards", src)).count() == 0

    terms = ["hash", "merge", "vector"]
    got = sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect()))
    want = sorted(map(tuple, bm25_topk(docs, terms, k=10).collect()))
    assert got == want


def test_lexical_merge_crash_resume_via_upsert(spark, tmp_path):
    """A lexical merge torn before the descriptor commit is resumed by
    the next upsert; the index converges to the clean-merge state and
    the batch applies against the post-merge placement."""
    import json
    import os

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.retrieval import (
        _LEX_MERGE_PENDING, bm25_indexed_topk, bm25_topk,
        merge_lexical_shards, upsert_lexical_index, write_lexical_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "lex_crash")
    write_lexical_index(docs.where(F.col("doc_id") % 5 != 0), path,
                        shards=8)
    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        if p.endswith("_lex_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_lexical_shards(spark, path)
    finally:
        fsutil.write_text = real_write
    pend = staged.pending(path, _LEX_MERGE_PENDING)
    assert pend is not None

    upsert_lexical_index(spark, path,
                         adds=docs.where(F.col("doc_id") % 5 == 0))
    assert staged.pending(path, _LEX_MERGE_PENDING) is None
    meta = json.loads(open(os.path.join(path, "_lex_meta.json")).read())
    assert {"src": pend["src"], "dst": pend["dst"], "salt": None} \
        in meta["splits"]

    terms = ["hash", "merge", "vector"]
    got = sorted(map(tuple, bm25_indexed_topk(
        spark, path, terms, k=10).collect()))
    want = sorted(map(tuple, bm25_topk(docs, terms, k=10).collect()))
    assert got == want


def test_maintained_index_merge_policy_fires_after_delete_wave(
        spark, tmp_path):
    """Policy e2e (r10 verdict #3 'Done' clause): a delete-heavy CDC
    window leaves cold cells under merge_load_factor x mean; the next
    scheduler poll's maybe_rebalance returns ONE merge action (one
    action per poll); polls converge to idle (metadata-only, None); and
    the merged index still answers probes over the survivors."""
    import json

    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE vecs (
      vec_id bigint NOT NULL, emb varchar(300), PRIMARY KEY (vec_id))""")
    log = EventLogWriter(str(tmp_path / "log"))

    def vec(i):
        return json.dumps([float(i % 8) * 3.0, float(i % 5) - 2.0, 1.0])

    def apply(adds=(), removes=()):
        if adds:
            log.add("db1", "vecs", list(adds))
        if removes:
            log.remove("db1", "vecs", [(r,) for r in removes])
        engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    apply(adds=[(i, vec(i)) for i in range(64)])

    class Clock:
        t = 1000.0

        def __call__(self):
            return self.t

    clock = Clock()
    path = str(tmp_path / "ivf")
    ix = MaintainedIndex(engine, "db1", "vecs", path, "ivf",
                         payload_col="emb",
                         payload_expr=F.from_json(F.col("emb"),
                                                  "array<float>"),
                         max_lag_seconds=0.0, clock=clock,
                         merge_load_factor=0.6, n_cells=8)
    ix.build()

    # delete wave: keep 1 vector in 8 — most cells go cold together
    apply(removes=[i for i in range(64) if i % 8 != 0])
    clock.t += 1
    assert ix.maybe_apply()["applied"]

    act = ix.maybe_rebalance()
    assert act is not None and act.startswith("merge:")
    # one action per poll; convergence to an idle (None) poll
    for _ in range(8):
        if ix.maybe_rebalance() is None:
            break
    assert ix.maybe_rebalance() is None

    from mysql_ch_replicator_spark.operators.similarity import (
        read_ivf_meta,
    )
    meta = read_ivf_meta(path)
    assert meta.get("dead"), "the wave must have produced >=1 merge"

    q = spark.createDataFrame([(999, [0.0, 0.0, 1.0])],
                              "query_id long, embedding array<float>")
    got = ivf_index_topk(spark, path, q, k=3, probes=2)
    assert got.count() > 0


def test_placement_parity_with_interleaved_merges(spark):
    """_term_shard_py and _shard_expr must agree under a chain that
    INTERLEAVES splits and merges (merge = salt-less entry applied in
    recorded order): a term can route base->split dst->merged away->
    re-split — any disagreement means probes read a different directory
    than upserts write."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        _live_shards, _shard_expr, _term_shard_py,
    )

    shards = 4
    chain = [{"src": 1, "dst": 4, "salt": "lexsplit4"},
             {"src": 4, "dst": 2, "salt": None},        # merge 4 -> 2
             {"src": 2, "dst": 6, "salt": "lexsplit6"},  # re-split
             {"src": 0, "dst": 3, "salt": None}]         # merge 0 -> 3
    terms = [f"w{i}" for i in range(300)] + ["alpha", "beta", "gamma"]
    df = spark.createDataFrame([(t,) for t in terms], "term string") \
        .select("term", _shard_expr(F.col("term"), shards, chain)
                .alias("s"))
    got = {r.term: int(r.s) for r in df.collect()}
    want = {t: _term_shard_py(t, shards, chain) for t in terms}
    assert got == want
    live = _live_shards(shards, chain)
    assert live == {1, 2, 3, 6}
    assert set(want.values()) <= live          # nothing routes to dead
    assert any(v == 6 for v in want.values())  # the re-split engaged


def test_split_of_merged_away_shard_raises(spark, tmp_path):
    """A merged-away shard is retired forever: asking the split to
    target it must raise BEFORE any manifest exists (same rule as a
    bogus id — a wedged manifest would crash every resume)."""
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.retrieval import (
        _LEX_SPLIT_PENDING, merge_lexical_shards, split_lexical_shard,
        write_lexical_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path, shards=8)
    src, dst = merge_lexical_shards(spark, path)
    with pytest.raises(ValueError, match="not a live placement target"):
        split_lexical_shard(spark, path, shard=src)
    assert staged.pending(path, _LEX_SPLIT_PENDING) is None  # nothing committed


def test_optimizer_isolates_broken_index(spark, tmp_path):
    """One index's failure must not starve the rest of the poll
    (ADVICE r10): a MaintainedIndex pointing at a nonexistent replica
    table records an error: action while the healthy index in the SAME
    poll is still applied."""
    import json

    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
    from mysql_ch_replicator_spark.optimizer import ReplicaOptimizer
    from mysql_ch_replicator_spark.sources.event_log import (
        EventLogWriter, read_event_log,
    )

    engine = ReplicaEngine(spark, str(tmp_path / "replica"))
    engine.create_table("db1", """CREATE TABLE docs (
      doc_id bigint NOT NULL, body varchar(2000), PRIMARY KEY (doc_id))""")
    log = EventLogWriter(str(tmp_path / "log"))
    log.add("db1", "docs", [(i, f"alpha w{i % 5}") for i in range(12)])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))

    class Clock:
        t = 1000.0

        def __call__(self):
            return self.t

    clock = Clock()
    healthy = MaintainedIndex(engine, "db1", "docs",
                              str(tmp_path / "ok"), "lexical",
                              payload_col="body", max_lag_seconds=0.0,
                              clock=clock, shards=4)
    healthy.build()
    broken = MaintainedIndex(engine, "db1", "docs",
                             str(tmp_path / "broken"), "lexical",
                             payload_col="body", max_lag_seconds=0.0,
                             clock=clock, shards=4)
    broken.build()
    # wedge the broken one: sweep its index dir but leave the state
    # file claiming it is built — the next apply dies reading it
    import shutil
    for sub in ("postings", "docmeta"):
        shutil.rmtree(str(tmp_path / "broken" / sub), ignore_errors=True)
    (tmp_path / "broken" / "_lex_meta.json").write_text(
        json.dumps({"n": 0, "tl": 0}))   # schema-less, shardless junk

    log.add("db1", "docs", [(100, "delta omega")])
    engine.apply_batch(read_event_log(spark, str(tmp_path / "log")))
    clock.t += 1

    opt = ReplicaOptimizer(engine, interval=600.0, clock=clock,
                           indexes=[broken, healthy])
    acts = dict(opt.maybe_maintain_indexes())
    assert acts[str(tmp_path / "broken")].startswith("error:")
    assert acts[str(tmp_path / "ok")] == "apply"
    assert healthy.status()["versions_behind"] == 0


def test_split_of_dead_ivf_cell_raises(spark, emb, tmp_path):
    """The IVF twin of the retired-shard rule: splitting a merged-away
    cell raises a named error before any manifest exists."""
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_SPLIT_PENDING, merge_ivf_cells, write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, n_cells=8)
    src, dst = merge_ivf_cells(spark, path)
    with pytest.raises(ValueError, match="merged away"):
        split_ivf_cell(spark, path, cell=src)
    assert staged.pending(path, _IVF_SPLIT_PENDING) is None
