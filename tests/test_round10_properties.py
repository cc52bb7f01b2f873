"""Round-10 properties: the r9 ADVICE fixes (raked_mixture guards,
split-pending safety on the IVF upsert path, fsutil read-through-rename
window, session-fixture build race) plus the r9 verdict's quick asks."""

import json
import os
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ---------------------------------------------------------------------------
# raked_mixture guards (ADVICE r9 + verdict #5)
# ---------------------------------------------------------------------------

def test_raked_mixture_cardinality_guard(spark):
    """A corpus-cardinality key must raise BEFORE the contingency table
    reaches the driver — the ks_drift-grid guard mold."""
    from mysql_ch_replicator_spark.operators.sampling import raked_mixture

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("lang"),     # 100 distinct rows
        (F.col("id") % 3).cast("string").alias("source"))
    with pytest.raises(ValueError, match="contingency.*coarsen"):
        raked_mixture(docs, max_cells=50)
    # a bounded table still rakes fine under the same knob
    sel, rates = raked_mixture(
        docs.withColumn("lang", (F.col("doc_id") % 2).cast("string")),
        max_cells=50)
    assert rates.count() == 6


def test_raked_mixture_nonstring_keys(spark):
    """The rates frame's key columns carry the input's types — integer
    keys used to crash createDataFrame against the hardcoded string
    schema (ADVICE r9)."""
    from mysql_ch_replicator_spark.operators.sampling import raked_mixture

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).alias("lang"),          # bigint key
        (F.col("id") % 3).cast("int").alias("source"))   # int key
    sel, rates = raked_mixture(docs)
    schema = {f.name: f.dataType.simpleString() for f in rates.schema}
    assert schema["lang"] == "bigint" and schema["source"] == "int"
    assert sel.count() > 0


def test_ipf_zero_marginal_guard():
    """A floored-to-zero marginal raises the named error, never a bare
    ZeroDivisionError (ADVICE r9). Natural count tables self-correct, so
    the guard is exercised on the factored pure loop directly."""
    from mysql_ch_replicator_spark.operators.sampling import _ipf_weights

    with pytest.raises(ValueError, match="row marginal"):
        _ipf_weights({("a", "x"): 0, ("b", "x"): 5_000_000},
                     ["a", "b"], ["x"], t_row=10, t_col=10, iters=1)
    with pytest.raises(ValueError, match="column marginal"):
        _ipf_weights({("a", "x"): 0, ("a", "y"): 5_000_000},
                     ["a"], ["x", "y"], t_row=10, t_col=10, iters=1)


# ---------------------------------------------------------------------------
# IVF split-pending safety (ADVICE r9 medium)
# ---------------------------------------------------------------------------

def test_split_ivf_cell_empty_index_raises(spark, tmp_path):
    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MEMBERS, split_ivf_cell,
    )

    path = str(tmp_path / "idx")
    os.makedirs(path)
    members = spark.createDataFrame([], "vec_id long, cell int, vspan long")
    members.write.parquet(os.path.join(path, _IVF_MEMBERS))
    fsutil.write_text(os.path.join(path, "_ivf_meta.json"),
                      json.dumps({"n_cells": 4, "dims": 2,
                                  "centroids": [[0.0, 0.0]] * 4,
                                  "schemas": {
                                      "members": members.schema.json()}}),
                      spark=spark)
    with pytest.raises(ValueError, match="nothing to split"):
        split_ivf_cell(spark, path)


def test_upsert_auto_resumes_pending_split(spark, tmp_path, corpus):
    """A torn split (data committed, descriptor not) must not let a
    subsequent upsert resurrect deleted vectors: the upsert auto-resumes
    the split first, then applies the batch against the POST-split
    geometry (ADVICE r9 medium). Also covers staged.pending."""
    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MEMBERS, _IVF_SPLIT_PENDING, split_ivf_cell,
        upsert_ivf_index, write_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(corpus, path, n_cells=8)
    assert staged.pending(path, _IVF_SPLIT_PENDING) is None

    # tear a split exactly like the r9 crash test: everything commits
    # except the descriptor, so _vecmeta/descriptor lag the moved rows
    real_write = fsutil.write_text

    def crashing_write(p, text, spark=None):
        if p.endswith("_ivf_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing_write
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            split_ivf_cell(spark, path, iters=2)
    finally:
        fsutil.write_text = real_write
    pend = staged.pending(path, _IVF_SPLIT_PENDING)
    assert pend is not None and pend["new_cell"] == 9

    # remove a vector that the torn split MOVED to the new cell — the
    # pre-fix behavior rewrote only its stale pre-split cell and left
    # the live row behind
    moved = spark.read.parquet(path).where(F.col("cell") == 9) \
        .select("vec_id").first()
    assert moved is not None
    victim = int(moved.vec_id)
    removes = spark.createDataFrame([(victim,)], "vec_id long")
    upsert_ivf_index(spark, path, removes=removes)

    assert staged.pending(path, _IVF_SPLIT_PENDING) is None  # completed
    meta = json.loads(fsutil.read_text(
        os.path.join(path, "_ivf_meta.json"), spark=spark))
    assert meta["n_cells"] == 9                        # descriptor grew
    got = spark.read.parquet(path)
    assert got.where(F.col("vec_id") == victim).count() == 0
    mem = spark.read.parquet(os.path.join(path, _IVF_MEMBERS))
    assert mem.where(F.col("vec_id") == victim).count() == 0
    # membership and data agree exactly after the combined recovery
    rows = sorted((r.vec_id, int(r.cell)) for r in
                  got.select("vec_id", "cell").collect())
    mrows = sorted((r.vec_id, int(r.cell)) for r in
                   mem.select("vec_id", "cell").collect())
    assert rows == mrows


# ---------------------------------------------------------------------------
# Hot-band collapse short-circuit (r9 verdict #4)
# ---------------------------------------------------------------------------

def test_band15_all_distinct_short_circuit_equivalent(spark):
    """On a pure-distinct-fp corpus the resolve takes the short-circuit
    path (no member link-back) — output must still equal brute force for
    BOTH min-link and closure, and must agree with a forced general-path
    run (duplicate one fp) on the shared docs."""
    import random

    from tests.test_round9_properties import _brute_links
    from mysql_ch_replicator_spark.operators.dedup import _band15_resolve

    random.seed(23)
    rows, seen = [], set()
    did = 0
    for _ in range(40):
        b = random.getrandbits(60)
        if b in seen:
            continue
        seen.add(b)
        rows.append((did, b))
        did += 1
        if random.random() < 0.5:
            n = b ^ (1 << random.randrange(60))
            if n not in seen:
                seen.add(n)
                rows.append((did, n))
                did += 1
    fp = spark.createDataFrame(rows, "doc_id long, fp long")
    for closure in (False, True):
        got = {r.doc_id: r.dup_of
               for r in _band15_resolve(fp, fp.select("doc_id"), 3,
                                        closure).collect()}
        assert got == _brute_links(rows, 3, closure), f"closure={closure}"


# ---------------------------------------------------------------------------
# Positional postings + indexed phrase retrieval (r9 verdict #3)
# ---------------------------------------------------------------------------

PHRASE = ["table", "hash"]


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _rows(df):
    return sorted((r.doc_id, r.phrase_tf, r.rank) for r in df.collect())


def test_phrase_indexed_equals_corpus_scan(spark, tmp_path, documents):
    """Indexed phrase retrieval must be bit-identical to the corpus-scan
    form — same adjacency algebra, same tie-breaks."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        phrase_match_indexed, phrase_match_topk, write_lexical_index,
    )

    path = str(tmp_path / "lex")
    write_lexical_index(documents, path, shards=4, positions=True)
    want = _rows(phrase_match_topk(documents, PHRASE, k=10))
    got = _rows(phrase_match_indexed(spark, path, PHRASE, k=10))
    assert want and got == want
    # a 3-term phrase exercises the chained adjacency joins
    want3 = _rows(phrase_match_topk(documents, ["a", "b", "c"], k=5))
    got3 = _rows(phrase_match_indexed(spark, path, ["a", "b", "c"], k=5))
    assert got3 == want3


def test_phrase_indexed_requires_positions(spark, tmp_path, documents):
    from mysql_ch_replicator_spark.operators.retrieval import (
        phrase_match_indexed, write_lexical_index,
    )

    path = str(tmp_path / "lex_nopos")
    write_lexical_index(documents.limit(50), path, shards=4)
    with pytest.raises(ValueError, match="without positional postings"):
        phrase_match_indexed(spark, path, PHRASE)
    with pytest.raises(ValueError, match="at least 2 terms"):
        phrase_match_indexed(spark, path, ["solo"])


def test_lexical_upsert_maintains_positions(spark, tmp_path, documents):
    """Upserting a positional index must converge to the from-scratch
    build of the final corpus: positions table row-identical, descriptor
    flag preserved, phrase probe identical — extends the upsert==rebuild
    contract to the positional twin."""
    import json

    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators.retrieval import (
        phrase_match_indexed, upsert_lexical_index, write_lexical_index,
    )

    want_path = str(tmp_path / "want")
    final = documents.where(F.col("doc_id") % 7 != 0)
    write_lexical_index(final, want_path, shards=4, positions=True)

    got_path = str(tmp_path / "got")
    write_lexical_index(documents.where(F.col("doc_id") % 5 != 0),
                        got_path, shards=4, positions=True)
    upsert_lexical_index(
        spark, got_path,
        adds=documents.where(F.col("doc_id") % 5 == 0),
        removes=documents.where(F.col("doc_id") % 7 == 0)
        .select("doc_id"))

    def _pos_rows(p):
        return sorted(
            (int(r.shard), r.term, int(r.doc_id), int(r.pos)) for r in
            spark.read.parquet(os.path.join(p, "positions")).collect())

    assert _pos_rows(got_path) == _pos_rows(want_path)
    meta = json.loads(fsutil.read_text(
        os.path.join(got_path, "_lex_meta.json"), spark=spark))
    assert meta["positions"] is True
    assert _rows(phrase_match_indexed(spark, got_path, PHRASE, k=10)) \
        == _rows(phrase_match_indexed(spark, want_path, PHRASE, k=10))


def test_phrase_indexed_plan_shard_pruned(spark, tmp_path, documents):
    """The probe's scans must carry a planning-time shard partition
    filter and a pushed term filter, and the corpus must never appear in
    the plan — the whole point of the positional index."""
    from mysql_ch_replicator_spark.functions.hashing import h60_py
    from mysql_ch_replicator_spark.operators.retrieval import (
        phrase_match_indexed, write_lexical_index,
    )
    from tests.test_round8_properties import _plan_of

    path = str(tmp_path / "lex_plan")
    write_lexical_index(documents, path, shards=4, positions=True)
    plan = _plan_of(phrase_match_indexed(spark, path, PHRASE, k=10))
    assert "documents.parquet" not in plan
    shard_ids = sorted({h60_py(t) % 4 for t in PHRASE})
    seg = plan.split("PartitionFilters")
    assert len(seg) >= 3, "both term branches must prune on shard"
    for part in seg[1:]:
        head = part.split("]")[0]
        assert "shard" in head and all(
            str(s) in head for s in shard_ids), head
    assert "PushedFilters" in plan and "isnotnull(term" in plan

def test_read_text_retries_transient_absence(spark, tmp_path):
    """A reader racing write_text's delete-then-rename overwrite sees
    old-or-new content after a short retry, never a spurious miss; a
    genuinely absent file still raises."""
    from mysql_ch_replicator_spark import fsutil

    target = str(tmp_path / "desc.json")
    fsutil.write_text(target, "v1", spark=spark)
    os.remove(target)        # simulate the delete→rename gap

    def _restore():
        time.sleep(0.15)
        fsutil.write_text(target, "v2", spark=spark)

    t = threading.Thread(target=_restore)
    t.start()
    try:
        got = fsutil.read_text(target, spark=spark,
                               retries=20, retry_delay_s=0.05)
    finally:
        t.join()
    assert got == "v2"
    with pytest.raises(Exception, match="FileNotFound|No such file"):
        fsutil.read_text(str(tmp_path / "never.json"), spark=spark,
                         retries=1, retry_delay_s=0.01)


# ---------------------------------------------------------------------------
# session-fixture build race (ADVICE r9)
# ---------------------------------------------------------------------------

def test_session_fixture_concurrent_build_once(tmp_path):
    from mysql_ch_replicator_spark import queries

    builds = []
    barrier = threading.Barrier(2)
    results = []

    def build(path):
        builds.append(path)
        time.sleep(0.1)           # widen the race window
        os.makedirs(path, exist_ok=True)

    def consume():
        barrier.wait()
        results.append(queries._session_fixture(
            str(tmp_path), "r10_race_probe", build))

    threads = [threading.Thread(target=consume) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1, "racing consumers must build exactly once"
    assert len(set(results)) == 1


# ---------------------------------------------------------------------------
# index-upsert job budget (r9 verdict #1: the upserts' cost at a 1 s CDC
# cadence is their FIXED action count, not data volume)
# ---------------------------------------------------------------------------

def _jobs_run(spark) -> int:
    """Total Spark jobs the app has run, from the status store — AQE
    stage materializations included, which is exactly the fixed overhead
    being budgeted."""
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def test_lexical_upsert_job_budget(spark, tmp_path):
    """A warm lexical upsert stays under its job ceiling. The absolute
    number is AQE-plan-dependent (~37 today); the pin catches the
    regression class that matters — an extra corpus traversal, a
    reintroduced union-level distinct, or a merge plan whose join
    branches re-read the touched shards — each of which adds several
    jobs at ANY batch size and therefore lands straight on the 1 s CDC
    cadence."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        upsert_lexical_index, write_lexical_index)

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} w{i % 11} gamma") for i in range(60)],
        "doc_id long, text string")
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path, shards=4, span_width=16)
    adds = spark.createDataFrame(
        [(100 + i, f"delta epsilon w{i}") for i in range(5)],
        "doc_id long, text string")
    upsert_lexical_index(spark, path, adds=adds)   # warm the session
    before = _jobs_run(spark)
    upsert_lexical_index(
        spark, path,
        adds=adds.withColumn("doc_id", F.col("doc_id") + 10),
        removes=spark.createDataFrame([(3,), (5,)], "doc_id long"))
    assert _jobs_run(spark) - before <= 44


def test_ivf_upsert_job_budget(spark, tmp_path):
    """IVF twin of the lexical job budget (~26 jobs today)."""
    from mysql_ch_replicator_spark.operators.similarity import (
        upsert_ivf_index, write_ivf_index)

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(60)],
        "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_cells=4)
    adds = spark.createDataFrame(
        [(100 + i, [1.0, 2.0, 3.0]) for i in range(5)],
        "vec_id long, embedding array<float>")
    upsert_ivf_index(spark, path, adds=adds)       # warm the session
    before = _jobs_run(spark)
    upsert_ivf_index(
        spark, path,
        adds=adds.withColumn("vec_id", F.col("vec_id") + 10),
        removes=spark.createDataFrame([(3,), (7,)], "vec_id long"))
    assert _jobs_run(spark) - before <= 32


# ---------------------------------------------------------------------------
# Lexical hot-shard split (r10: the lexical twin of split_ivf_cell)
# ---------------------------------------------------------------------------

def _probe_all(spark, path):
    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, phrase_match_indexed)
    bm = sorted(tuple(r) for r in
                bm25_indexed_topk(spark, path,
                                  ["alpha", "beta", "w3"], k=40).collect())
    ph = sorted(tuple(r) for r in
                phrase_match_indexed(spark, path,
                                     ["alpha", "beta"], k=40).collect())
    return bm, ph


def _split_docs(spark):
    rows = [(i, f"alpha beta w{i % 9} tail{i % 4}") for i in range(48)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def split_index(spark, tmp_path_factory):
    """The positional index of ``_split_docs``, built once; a test works
    on its own copy (``_copy_index``)."""
    from mysql_ch_replicator_spark.operators.retrieval import \
        write_lexical_index

    path = str(tmp_path_factory.mktemp("split_index") / "lex")
    write_lexical_index(_split_docs(spark), path, shards=4, span_width=8,
                        positions=True)
    return path


def _copy_index(template: str, tmp_path) -> str:
    path = str(tmp_path / "lex")
    shutil.copytree(template, path)
    return path


def test_lexical_shard_split_probe_invariant(spark, tmp_path, split_index):
    """Splitting the hottest shard must leave every probe bit-identical
    (placement is not semantics), rewrite ONLY the two shard dirs, keep
    descriptor scalars/span stats untouched, and update the docmeta
    membership so later upserts discover the moved terms' new home."""
    import glob

    from mysql_ch_replicator_spark.operators.retrieval import (
        _term_shard_py, split_lexical_shard)

    path = _copy_index(split_index, tmp_path)
    before = _probe_all(spark, path)
    meta0 = json.load(open(os.path.join(path, "_lex_meta.json")))
    mtimes = {d: os.path.getmtime(d)
              for d in glob.glob(os.path.join(path, "postings", "shard=*"))}

    src, dst = split_lexical_shard(spark, path)
    meta1 = json.load(open(os.path.join(path, "_lex_meta.json")))
    (sp,) = meta1["splits"]
    assert (sp["src"], sp["dst"]) == (src, dst)
    assert sp["salt"].startswith(f"lexsplit{dst}")
    for k in ("n", "tl", "spans", "shards"):
        assert meta1[k] == meta0[k]
    assert _probe_all(spark, path) == before
    # untouched shard dirs are byte-stable (mtime pin, the IVF rule)
    for d, t in mtimes.items():
        s = int(d.rsplit("=", 1)[1])
        if s != src:
            assert os.path.getmtime(d) == t, f"shard {s} was rewritten"
    # placement function routes moved terms to dst and membership agrees
    post = spark.read.parquet(os.path.join(path, "postings"))
    got = {(r.term, int(r.shard)) for r in
           post.select("term", "shard").distinct().collect()}
    for term, s in got:
        assert s == _term_shard_py(term, meta1["shards"], meta1["splits"])
    memb = spark.read.parquet(os.path.join(path, "docmeta")) \
        .select("doc_id", F.explode("shards").alias("s"))
    want = {(int(r.doc_id), int(r.shard)) for r in
            post.select("doc_id", "shard").distinct().collect()}
    assert {(int(r.doc_id), int(r.s)) for r in memb.collect()} == want


def test_lexical_split_then_upsert_equals_rebuild(spark, tmp_path,
                                                 split_index):
    """The critical composition: an upsert AFTER a split must place new
    postings with the split-aware hash and discover moved terms through
    the rewritten membership — final index equals a rebuild probe-for-
    probe, and a second split composes on the chain."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        split_lexical_shard, upsert_lexical_index, write_lexical_index)

    docs = _split_docs(spark)
    path = _copy_index(split_index, tmp_path)
    split_lexical_shard(spark, path)

    adds = spark.createDataFrame(
        [(100 + i, f"alpha w{i % 9} fresh{i}") for i in range(6)],
        "doc_id long, text string")
    removes = spark.createDataFrame([(3,), (7,)], "doc_id long")
    upsert_lexical_index(spark, path, adds=adds, removes=removes)
    split_lexical_shard(spark, path)            # second split composes

    full = str(tmp_path / "full")
    write_lexical_index(
        docs.where(~F.col("doc_id").isin(3, 7)).unionByName(adds), full,
        shards=4, span_width=8, positions=True)
    assert _probe_all(spark, path) == _probe_all(spark, full)
    m = json.load(open(os.path.join(path, "_lex_meta.json")))
    mf = json.load(open(os.path.join(full, "_lex_meta.json")))
    assert (m["n"], m["tl"], m["spans"]) == (mf["n"], mf["tl"], mf["spans"])


def test_lexical_split_crash_resume_and_upsert_autoresume(spark, tmp_path):
    """Tear a shard split before the membership/descriptor commit; the
    pending manifest survives, a direct resume OR the next upsert
    finishes it, and the result equals the untorn split."""
    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.retrieval import (
        _LEX_SPLIT_PENDING, split_lexical_shard, upsert_lexical_index,
        write_lexical_index)

    docs = _split_docs(spark)
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path, shards=4, span_width=8)
    # df is recomputed by the upsert below (doc 200 adds "alpha"), so
    # the survival check compares (term, doc_id, tf) only
    before = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(path, "postings"))
        .select("term", "doc_id", "tf").collect())

    real_write = fsutil.write_text

    def crashing(p, text, spark=None):
        if p.endswith("_lex_meta.json"):
            raise RuntimeError("injected crash before descriptor commit")
        return real_write(p, text, spark=spark)

    fsutil.write_text = crashing
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            split_lexical_shard(spark, path)
    finally:
        fsutil.write_text = real_write
    pend = staged.pending(path, _LEX_SPLIT_PENDING)
    assert pend is not None and pend["dst"] == 4

    # the next CDC batch auto-resumes the split, then applies
    adds = spark.createDataFrame([(200, "alpha beta resumed")],
                                 "doc_id long, text string")
    upsert_lexical_index(spark, path, adds=adds)
    assert staged.pending(path, _LEX_SPLIT_PENDING) is None
    meta = json.load(open(os.path.join(path, "_lex_meta.json")))
    assert len(meta["splits"]) == 1
    # every original posting survived the torn split + resume (plus the
    # new doc's), and placement matches the split-aware function
    after = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(path, "postings"))
        .where(F.col("doc_id") != 200)
        .select("term", "doc_id", "tf").collect())
    assert after == before


def test_lexical_split_degenerate_raises_before_manifest(spark, tmp_path):
    """A shard whose terms all land on one side of the salted hash (here:
    a single hot term) must raise BEFORE the intent manifest exists —
    committing the split would add a useless descriptor entry the
    load-factor policy would stack forever."""
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.retrieval import (
        _LEX_SPLIT_PENDING, split_lexical_shard, write_lexical_index)

    docs = spark.createDataFrame(
        [(i, "sameword " * 5) for i in range(30)],
        "doc_id long, text string")
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path, shards=4, span_width=8)
    with pytest.raises(ValueError, match="one side"):
        split_lexical_shard(spark, path)
    assert staged.pending(path, _LEX_SPLIT_PENDING) is None


def test_shard_placement_python_spark_parity(spark):
    """_term_shard_py (driver-side probe planning) and _shard_expr
    (scan-side upsert placement) must agree on EVERY term under an
    arbitrary split chain — including re-splits of split destinations —
    or probes would read a different directory than upserts write."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        _shard_expr, _term_shard_py)

    shards = 4
    splits = [{"src": 1, "dst": 4, "salt": "lexsplit4"},
              {"src": 4, "dst": 5, "salt": "lexsplit5#2"},
              {"src": 0, "dst": 6, "salt": "lexsplit6"}]
    terms = [f"w{i}" for i in range(200)] + ["alpha", "beta", "gamma"]
    df = spark.createDataFrame([(t,) for t in terms], "term string") \
        .select("term", _shard_expr(F.col("term"), shards, splits)
                .alias("s"))
    got = {r.term: int(r.s) for r in df.collect()}
    want = {t: _term_shard_py(t, shards, splits) for t in terms}
    assert got == want
    # the chain composes: at least one term should have taken the
    # two-hop route 1 -> 4 -> 5 for the test to mean anything
    assert any(v == 5 for v in want.values())


def test_write_ivf_index_empty_corpus_raises(spark, tmp_path):
    """Building an IVF index over an empty corpus (a maintained index
    bound to a not-yet-populated replica) raises a named error instead
    of a NoneType subscript in the dims probe."""
    from mysql_ch_replicator_spark.operators.similarity import \
        write_ivf_index

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no rows"):
        write_ivf_index(empty, str(tmp_path / "ivf"), n_cells=4)


def test_pending_lexical_upsert_helper(spark, tmp_path):
    """staged.pending on the lexical upsert manifest: None after a clean
    batch, the touched shard/span manifest after a torn one."""
    from mysql_ch_replicator_spark import fsutil
    from mysql_ch_replicator_spark.operators import staged
    from mysql_ch_replicator_spark.operators.retrieval import (
        _LEX_PENDING, upsert_lexical_index, write_lexical_index)

    path = str(tmp_path / "lex")
    write_lexical_index(_split_docs(spark), path, shards=4, span_width=8)
    adds = spark.createDataFrame([(100, "alpha zeta")],
                                 "doc_id long, text string")
    upsert_lexical_index(spark, path, adds=adds)
    assert staged.pending(path, _LEX_PENDING) is None

    real = fsutil.delete

    def no_delete(p, spark=None):
        if p.endswith("_lex_upsert_pending.json"):
            raise RuntimeError("injected crash before manifest delete")
        return real(p, spark=spark)

    fsutil.delete = no_delete
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_lexical_index(
                spark, path,
                adds=adds.withColumn("doc_id", F.col("doc_id") + 1))
    finally:
        fsutil.delete = real
    pend = staged.pending(path, _LEX_PENDING)
    assert pend is not None and pend["shards"]
    # recovery = re-run; the manifest clears
    upsert_lexical_index(
        spark, path, adds=adds.withColumn("doc_id", F.col("doc_id") + 1))
    assert staged.pending(path, _LEX_PENDING) is None


# ---------------------------------------------------------------------------
# Remove-everything windows must not wedge the indexes (r10 review #2)
# ---------------------------------------------------------------------------

def test_lexical_index_survives_remove_everything(spark, tmp_path,
                                                  split_index):
    """A CDC window that deletes EVERY doc sweeps all shard and span
    directories; the next probe must read empty (schema from the
    descriptor, not parquet inference over a bare root) and the next
    upsert must repopulate the index to a state equal to a rebuild."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, upsert_lexical_index, write_lexical_index)

    docs = _split_docs(spark)
    path = _copy_index(split_index, tmp_path)
    upsert_lexical_index(spark, path, removes=docs.select("doc_id"))

    assert bm25_indexed_topk(spark, path, ["alpha"], k=5).count() == 0
    meta = json.load(open(os.path.join(path, "_lex_meta.json")))
    assert meta["n"] == 0 and meta["tl"] == 0 and meta["spans"] == {}

    re_adds = docs.where(F.col("doc_id") < 10)
    upsert_lexical_index(spark, path, adds=re_adds)
    full = str(tmp_path / "full")
    write_lexical_index(re_adds, full, shards=4, span_width=8,
                        positions=True)
    assert _probe_all(spark, path) == _probe_all(spark, full)


def test_ivf_index_survives_remove_everything(spark, tmp_path, corpus):
    """IVF twin: removing every vector sweeps all cell and vspan dirs;
    probes read empty from the descriptor schema and a later upsert
    repopulates."""
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MEMBERS, ivf_index_topk, upsert_ivf_index, write_ivf_index)

    path = str(tmp_path / "ivf")
    write_ivf_index(corpus, path, n_cells=4)
    upsert_ivf_index(spark, path, removes=corpus.select("vec_id"))

    queries = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    assert ivf_index_topk(spark, path, queries, k=3, probes=4).count() == 0

    re_adds = corpus.where(F.col("vec_id") < 10)
    upsert_ivf_index(spark, path, adds=re_adds)
    got = sorted(int(r.vec_id) for r in spark.read.parquet(
        os.path.join(path, _IVF_MEMBERS)).select("vec_id").collect())
    assert got == sorted(int(r.vec_id) for r in
                         re_adds.select("vec_id").collect())
