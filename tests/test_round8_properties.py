"""Round-8 regression pins: edge cases the r7 ADVICE flagged — bloom
hash type-width sensitivity, curriculum sort-key overflow, dead-letter
count self-correction after checkpoint resets, ks_drift grid guards."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_bloom_probe_width_independent(spark):
    """A bitmap built from an INT key column must be probed correctly by
    a BIGINT fact key (and vice versa): xxhash64 is type-sensitive, so
    the positions must hash the canonical string form — a width mismatch
    producing false negatives silently breaks the 'downstream joins stay
    exact' contract."""
    from mysql_ch_replicator_spark.operators.sketch import (
        bloom_bitmap_words, bloom_scan_filter)

    members = spark.range(100).select(F.col("id").cast("int").alias("w"))
    words = bloom_bitmap_words(members, "w", n_bits=4096, k=3)

    fact = spark.range(200).select(F.col("id").cast("bigint").alias("w"))
    kept = {r.w for r in bloom_scan_filter(fact, "w", words,
                                           n_bits=4096, k=3).collect()}
    # no false negatives across the int→bigint width change
    assert set(range(100)) <= kept
    # and the filter still prunes (some true negatives dropped)
    assert len(kept) < 200


def test_curriculum_sort_key_overflow_raises(spark, tmp_path):
    """curriculum_length_order packs (n_chars, doc_id) into one long;
    n_chars ≥ 2^23 would wrap the key negative and silently corrupt the
    global order — the projection must raise instead."""
    from mysql_ch_replicator_spark.queries_ml import curriculum_length_order

    docs = spark.createDataFrame(
        [(1, 100, "x", "en", "s")],
        "doc_id long, n_chars long, content string, lang string, "
        "source string")
    docs = docs.withColumn("n_chars", F.lit(1 << 23).cast("long"))
    d = tmp_path / "sf"
    d.mkdir()
    docs.write.parquet(str(d / "documents.parquet"))
    with pytest.raises(Exception, match="out of domain"):
        curriculum_length_order(spark, str(d)).collect()


def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_lexical_upsert_discovery_span_pruned(spark, tmp_path):
    """Affected-shard discovery must read the docmeta MEMBERSHIP column
    with a planning-time dspan partition filter — O(changed docs) IO —
    and must never scan the postings table at all (the r7 verdict's
    O(index)-per-CDC-batch scale killer)."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        _membership_shard_frame, write_lexical_index)

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(20)],
        "doc_id long, text string")
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path, shards=4)

    docmeta = spark.read.parquet(path + "/docmeta")
    changed = spark.createDataFrame([(3,)], "doc_id long")
    plan = _plan_of(_membership_shard_frame(docmeta, changed, [0]))
    assert "PartitionFilters" in plan and "dspan" in plan
    # the scan location IS the docmeta subdir; the postings path (the
    # old O(index) discovery's scan target) never appears
    assert "docmeta" in plan
    assert "postings" not in plan


def test_lexical_upsert_maintains_membership(spark, tmp_path):
    """The docmeta membership column after an upsert equals the distinct
    (doc_id, shard) pairs of the post-upsert postings, and dl equals the
    post-upsert doc lengths — the invariants discovery correctness and
    BM25 normalization rest on (adds, removes, re-adds, and a doc whose
    removal empties a span)."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        upsert_lexical_index, write_lexical_index)

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "delta")],
        "doc_id long, text string")
    path = str(tmp_path / "lex")
    write_lexical_index(docs, path, shards=4)

    adds = spark.createDataFrame(
        [(2, "epsilon zeta"), (4, "alpha")], "doc_id long, text string")
    removes = spark.createDataFrame([(3,)], "doc_id long")
    upsert_lexical_index(spark, path, adds=adds, removes=removes)

    post = {(r.doc_id, int(r.shard)) for r in
            spark.read.parquet(path + "/postings")
            .select("doc_id", "shard").distinct().collect()}
    meta_rows = spark.read.parquet(path + "/docmeta").collect()
    members = {(r.doc_id, int(s)) for r in meta_rows for s in r.shards}
    assert members == post and post
    assert {r.doc_id: r.dl for r in meta_rows} == {1: 2, 2: 2, 4: 1}


@pytest.mark.heavy
def test_image_dhash_dedup_matches_brute_force(spark):
    """Banded dHash dedup finds EXACTLY the Hamming-≤3 pairs a brute-
    force all-pairs comparison finds — pigeonhole recall is exact, and
    near-dup images (small pixel perturbations that flip ≤3 gradient
    bits) cluster while distinct images don't."""
    from mysql_ch_replicator_spark.operators.dedup import image_dhash_dedup
    from mysql_ch_replicator_spark.operators.multimodal import (
        _dhash_bits, attach_fake_binary)

    base = "the quick brown fox jumps over the lazy dog " * 3
    texts = {
        0: base,
        1: base,                                   # exact dup of 0
        2: base[:20] + "X" + base[21:],            # 1-char flip: near dup
        3: "completely different content here with other words " * 3,
        4: "".join(reversed(base)),                # scrambled: far
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    got = {(r.doc_id, r.dup_of) for r in
           image_dhash_dedup(attach_fake_binary(docs)).collect()}

    # literal python brute force over the same 60-bit hashes
    def fp(t):
        px = [ord(ch) for ch in t[:66]]
        px += [0] * (66 - len(px))
        return _dhash_bits(px, 6, 10)

    fps = {i: fp(t) for i, t in texts.items()}
    pairs = {(a, b) for a in fps for b in fps
             if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3}
    assert (0, 1) in pairs and (0, 2) in pairs   # the fixture is live
    dup_of = {i: min([a for a, b in pairs if b == i] + [i])
              for i in texts}
    assert got == {(i, dup_of[i]) for i in texts}
    assert got != {(i, i) for i in texts}        # something clustered


def test_image_dhash_dedup_random_corpora_match_brute_force(spark):
    """Hypothesis-style sweep without per-example Spark jobs: ONE corpus
    of seeded random near-dup families (base strings + 0–2 char
    perturbations + unrelated docs) must cluster exactly as the literal
    python brute force says — banding recall/precision holds on
    arbitrary content, not just the crafted fixture."""
    import random

    from mysql_ch_replicator_spark.operators.dedup import image_dhash_dedup
    from mysql_ch_replicator_spark.operators.multimodal import (
        _dhash_bits, attach_fake_binary)

    rng = random.Random(0xD45)
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789"
    texts = {}
    did = 0
    for fam in range(12):
        base = "".join(rng.choice(alpha) for _ in range(rng.randint(5, 90)))
        for _ in range(rng.randint(1, 4)):
            t = list(base)
            for _ in range(rng.randint(0, 2)):
                if t:
                    t[rng.randrange(len(t))] = rng.choice(alpha)
            texts[did] = "".join(t)
            did += 1
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    got = {(r.doc_id, r.dup_of) for r in
           image_dhash_dedup(attach_fake_binary(docs)).collect()}

    def fp(t):
        px = [ord(ch) for ch in t[:66]]
        px += [0] * (66 - len(px))
        return _dhash_bits(px, 6, 10)

    fps = {i: fp(t) for i, t in texts.items()}
    pairs = {(a, b) for a in fps for b in fps
             if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3}
    assert pairs  # perturbation families must produce near-dups
    dup_of = {i: min([a for a, b in pairs if b == i] + [i]) for i in texts}
    assert got == {(i, dup_of[i]) for i in texts}


def test_quality_classifier_matches_python_model(spark):
    """Random corpora + random signed vocab: Spark scores equal a literal
    python bag-of-words model with truncating division — including docs
    that are all-OOV, empty, or punctuation-only."""
    import random
    import re

    from mysql_ch_replicator_spark.operators.selection import (
        linear_quality_score)

    rng = random.Random(0xC1A)
    vocab = {f"w{i}": rng.randint(-600000, 600000) for i in range(30)}
    pool = list(vocab) + ["oov1", "oov2", "zzz"]
    texts = {}
    for i in range(40):
        n = rng.randint(0, 12)
        texts[i] = " ".join(rng.choice(pool) for _ in range(n)) \
            if n else rng.choice(["", "...", "!!! ???"])
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string")
    weights = spark.createDataFrame(
        list(vocab.items()), "term string, w_ppm long")
    got = {r.doc_id: (r.n_tokens, r.score_ppm, r.keep) for r in
           linear_quality_score(docs, weights,
                                keep_threshold_ppm=25000).collect()}

    for i, t in texts.items():
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        dot = sum(vocab.get(w, 0) for w in toks)
        # truncation toward zero, like Spark div / DuckDB //
        score = int(dot / len(toks)) if toks else 0
        assert got[i] == (len(toks), score, int(score >= 25000)), (i, t)


def test_image_dhash_real_bytes_pil_guarded(spark):
    """Real (non-fake) image bytes route through the PIL slot: without
    Pillow the operator must raise NotImplementedError (never silently
    hash garbage); with Pillow (skipped here, runs where installed) a
    uniform gradient PNG produces the all-ones-per-row gradient hash."""
    from mysql_ch_replicator_spark.operators.multimodal import (
        dhash_images)

    png_magic = bytes([0x89]) + b"PNG\r\n\x1a\n" + b"\x00" * 32
    imgs = spark.createDataFrame([(1, bytearray(png_magic))],
                                 "doc_id long, image binary")
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(Exception) as ei:
            dhash_images(imgs).collect()
        assert "NotImplementedError" in str(ei.value) or \
            "image library" in str(ei.value)
        return
    import io

    from PIL import Image

    buf = io.BytesIO()
    img = Image.new("L", (22, 12))
    img.putdata([min(255, x * 10) for _ in range(12) for x in range(22)])
    img.save(buf, format="PNG")
    imgs = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                                 "doc_id long, image binary")
    fp = dhash_images(imgs).collect()[0].fp
    assert fp == (1 << 60) - 1   # strictly increasing rows → all bits set


def test_image_dhash_banding_radius_guard():
    """4×15-bit banding only guarantees recall to distance 3 — a wider
    radius must raise, not silently lose pairs."""
    import pytest as _pytest

    from mysql_ch_replicator_spark.operators.dedup import _band15_pairs

    with _pytest.raises(ValueError, match="distance"):
        _band15_pairs(None, max_distance=4)


def test_image_dhash_dedup_plan_no_all_pairs(spark):
    """The candidate join is a chunk EQUI-join — no cartesian product /
    nested-loop all-pairs anywhere in the plan."""
    from mysql_ch_replicator_spark.operators.dedup import image_dhash_dedup
    from mysql_ch_replicator_spark.operators.multimodal import (
        attach_fake_binary)

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(10)],
        "doc_id long, text string")
    plan = _plan_of(image_dhash_dedup(attach_fake_binary(docs)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_classifier_broadcast_vocab(spark):
    """The learned-vocab join must BROADCAST (a model vocab is always
    broadcastable) — the corpus token stream never sort-merge-shuffles
    before its doc-keyed aggregate."""
    from mysql_ch_replicator_spark.queries_ml import quality_classifier_score

    plan = _plan_of(quality_classifier_score(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_classifier_zero_token_and_negative_docs(spark):
    """Edge semantics: a zero-token doc scores exactly bias and still
    appears; an all-negative doc truncates its mean toward zero the same
    way both engines do."""
    from mysql_ch_replicator_spark.operators.selection import (
        linear_quality_score)

    docs = spark.createDataFrame(
        [(1, "slow slow error"), (2, "...!!!"), (3, "spark data")],
        "doc_id long, text string")
    weights = spark.createDataFrame(
        [("slow", -520000), ("error", -480000),
         ("spark", 500000), ("data", 420000)], "term string, w_ppm long")
    got = {r.doc_id: (r.n_tokens, r.score_ppm, r.keep) for r in
           linear_quality_score(docs, weights,
                                keep_threshold_ppm=50000).collect()}
    assert got[2] == (0, 0, 0)                       # bias-only, present
    # Spark div truncates toward zero, unlike python's flooring //
    assert got[1] == (3, -((520000 * 2 + 480000) // 3), 0)
    assert got[3] == (2, (500000 + 420000) // 2, 1)


def test_streaming_anomaly_real_multichunk_e2e(spark, tmp_path):
    """End-to-end twin of the direct-chunks unit test: shrink Arrow's
    maxRecordsPerBatch to 3 so applyInPandasWithState REALLY delivers
    each key's micro-batch as multiple chunks, and assert the streaming
    flags still equal the batch operator's — the r7 ADVICE failure mode
    (per-chunk sorting corrupting state order) cannot reappear
    unnoticed."""
    import json as _json

    from mysql_ch_replicator_spark.operators.timeseries import (
        rolling_anomaly)
    from mysql_ch_replicator_spark.streaming.stateful import (
        streaming_rolling_anomaly)

    vals = [10.0, 10.5, 9.5, 10.0, 10.25, 9.75, 10.0,
            50.0, 10.0, 10.5, 9.5, 10.0, 48.0, 9.75, 10.0,
            10.1, 9.9, 47.0, 10.0, 10.2]
    import datetime as dt
    rows = [(i, dt.datetime(2024, 1, 1, i % 24), 7, v)
            for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")
    batch_flags = {(r.user_id, r.event_id)
                   for r in rolling_anomaly(ev).collect()}
    assert batch_flags

    src = tmp_path / "src"
    src.mkdir()
    # write the rows OUT of (ts, oid) order: with 3-row Arrow chunks a
    # per-chunk sort then disagrees with the whole-group sort, so the
    # old bug would flip the flag set (verified by mutating the operator)
    import random
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    with open(src / "all.jsonl", "w") as fh:
        for eid, ts, uid, v in shuffled:
            fh.write(_json.dumps({"event_id": eid, "ts": ts.isoformat(),
                                  "user_id": uid, "value": v}) + "\n")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long, "
                          "value double")
                  .json(str(src)))
        out = streaming_rolling_anomaly(stream)
        q = (out.writeStream.format("memory").queryName("anom_mc")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        try:
            q.processAllAvailable()
            stream_flags = {(r.key, r.oid)
                            for r in spark.table("anom_mc").collect()}
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert stream_flags == batch_flags


def test_ks_drift_grid_cardinality_guard(spark):
    """ks_drift's ECDF grid is |groups|·|distinct values|; a high-
    cardinality value column must raise with the bucketing fix named,
    not silently build a corpus-scale cross product (no-silent-caps)."""
    from mysql_ch_replicator_spark.operators.quality import ks_drift

    df = spark.range(1000).select(
        (F.col("id") % 4).alias("source"), F.col("id").alias("n_chars"))
    with pytest.raises(ValueError, match="Bucket the value column"):
        ks_drift(df, max_grid_cells=100).collect()
    # the same data passes once bucketed (or with the bound raised)
    assert ks_drift(df, max_grid_cells=100_000).count() == 4


def test_persisted_indexes_work_with_scheme_qualified_paths(spark, tmp_path):
    """Both persisted indexes round-trip through an explicit file:// URI:
    proves no local-only filesystem call (open/os.remove/shutil) remains
    on the index paths — everything rides Spark's Hadoop FS layer, so an
    s3a:// or hdfs:// index path differs only in scheme (ADVICE r7)."""
    from mysql_ch_replicator_spark.operators.retrieval import (
        bm25_indexed_topk, upsert_lexical_index, write_lexical_index)
    from mysql_ch_replicator_spark.operators.similarity import (
        ivf_index_topk, upsert_ivf_index, write_ivf_index)

    lex = "file://" + str(tmp_path / "lex")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "delta")],
        "doc_id long, text string")
    write_lexical_index(docs, lex, shards=4)
    upsert_lexical_index(
        spark, lex,
        adds=spark.createDataFrame([(4, "beta beta")],
                                   "doc_id long, text string"),
        removes=spark.createDataFrame([(3,)], "doc_id long"))
    got = bm25_indexed_topk(spark, lex, ["beta"], k=4).collect()
    assert sorted(r.doc_id for r in got) == [1, 2, 4]

    ivf = "file://" + str(tmp_path / "ivf")
    corpus = _ivf_corpus(spark, n=30)
    write_ivf_index(corpus.where("vec_id < 20"), ivf, n_cells=4)
    upsert_ivf_index(spark, ivf,
                     adds=corpus.where("vec_id >= 20"),
                     removes=corpus.where("vec_id < 3").select("vec_id"))
    left = {r.vec_id for r in
            spark.read.parquet(ivf).select("vec_id").collect()}
    assert left == set(range(3, 30))
    q = corpus.where("vec_id = 10").selectExpr(
        "vec_id AS query_id", "embedding")
    assert ivf_index_topk(spark, ivf, q, k=3).count() == 3


def _ivf_corpus(spark, n=60, dims=8):
    import math
    rows = [(i, [math.sin(i * (d + 1)) for d in range(dims)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_upsert_discovery_span_pruned(spark, tmp_path):
    """IVF affected-cell discovery must read the _vecmeta membership
    table with a planning-time vspan partition filter — O(batch) IO —
    and never scan the index's cell partitions (the same O(index)
    pattern the lexical docmeta fix killed)."""
    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MEMBERS, _ivf_membership_cells, write_ivf_index)

    path = str(tmp_path / "idx")
    write_ivf_index(_ivf_corpus(spark), path, n_cells=4)
    members = spark.read.parquet(path + "/" + _IVF_MEMBERS)
    ids = spark.createDataFrame([(3,)], "vec_id long")
    plan = _plan_of(_ivf_membership_cells(members, ids, [0]))
    assert "PartitionFilters" in plan and "vspan" in plan
    # the scan location IS the membership subdir — the index's own
    # files never appear (the old discovery's scan located the index
    # root; 'cell=' never shows in formatted plans, so pin the path)
    assert "_vecmeta" in plan
    assert plan.count("Location") == 1


def test_ivf_upsert_maintains_membership(spark, tmp_path):
    """_vecmeta after an upsert equals the (vec_id, cell) pairs of the
    post-upsert index — adds, removes, and a re-add that moves cells."""
    from pyspark.sql import functions as SF

    from mysql_ch_replicator_spark.operators.similarity import (
        _IVF_MEMBERS, upsert_ivf_index, write_ivf_index)

    corpus = _ivf_corpus(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(corpus.where(SF.col("vec_id") % 3 != 0), path,
                    n_cells=4)
    upsert_ivf_index(
        spark, path,
        adds=corpus.where(SF.col("vec_id") % 3 == 0),
        removes=corpus.where(SF.col("vec_id") % 5 == 0)
        .select("vec_id"))
    idx_pairs = {(r.vec_id, int(r.cell)) for r in
                 spark.read.parquet(path).select("vec_id", "cell")
                 .collect()}
    mem_pairs = {(r.vec_id, int(r.cell)) for r in
                 spark.read.parquet(path + "/" + _IVF_MEMBERS)
                 .select("vec_id", "cell").collect()}
    assert mem_pairs == idx_pairs and idx_pairs


@pytest.mark.heavy
def test_ks_drift_matches_python_model_random(spark):
    """Random group/value corpora: the distributed KS statistic (cum·n
    cross-multiplication over the x-partitioned grid) equals a literal
    python two-sample KS of each group against its complement — exact
    integers end to end, including single-row groups, groups sharing all
    values, and values unique to one group."""
    import random
    from fractions import Fraction

    from mysql_ch_replicator_spark.operators.quality import ks_drift

    rng = random.Random(0x8D)
    rows = [(rng.randrange(4), rng.randrange(12)) for _ in range(300)]
    rows += [(9, 5)]                     # single-row group
    df = spark.createDataFrame(rows, "source long, n_chars long")
    got = {r.source: (r.n_s, r.n_r, int(r.d_num), r.d_ppm)
           for r in ks_drift(df).collect()}

    by_g = {}
    for g, x in rows:
        by_g.setdefault(g, []).append(x)
    xs = sorted({x for _, x in rows})
    for g, vals in by_g.items():
        rest = [x for gg, xx in rows if gg != g for x in [xx]]
        n_s, n_r = len(vals), len(rest)
        d_num = max(abs(sum(1 for v in vals if v <= x) * n_r
                        - sum(1 for v in rest if v <= x) * n_s)
                    for x in xs)
        want = (n_s, n_r, d_num, (1_000_000 * d_num) // (n_s * n_r))
        assert got[g] == want, (g, got[g], want)
    assert set(got) == set(by_g)


def test_dead_letter_count_survives_checkpoint_reset(spark, tmp_path):
    """Quarantine dirs are keyed by the CONTENT of the batch's dead rows,
    not by (run token, batch id): after a checkpoint reset the same
    envelopes replay under batch id 0 again, and the alerting surface
    (monitoring.dead_letter_count) must NOT double-count them — the
    replay overwrites the same content-addressed directory."""
    import json
    import os
    import shutil

    from mysql_ch_replicator_spark.config import Settings
    from mysql_ch_replicator_spark.engine import ReplicaEngine
    from mysql_ch_replicator_spark.main import (
        build_parser, run_binlog_replicator)
    from mysql_ch_replicator_spark.monitoring import dead_letter_count

    cfg = Settings.load({
        "replica": {"root": str(tmp_path / "replica")},
        "event_log_dir": str(tmp_path / "binlog"),
    })
    ReplicaEngine(spark, cfg.replica.root, settings=cfg)

    env_dir = tmp_path / "envelopes"
    env_dir.mkdir()
    with open(env_dir / "dump.jsonl", "w", encoding="utf-8") as fh:
        fh.write("{{{corrupt bytes\n")
        fh.write(json.dumps({"foo": 42}) + "\n")

    args = build_parser().parse_args(
        ["binlog_replicator", "--envelope_dir", str(env_dir)])

    def _ingest_once():
        q = run_binlog_replicator(args, cfg, spark=spark,
                                  await_termination=False)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _ingest_once()
    first = dead_letter_count(str(tmp_path / "binlog"))
    assert first == 2

    # checkpoint reset: the file source forgets its progress and replays
    # the same envelope file as batch 0 of a brand-new run
    shutil.rmtree(os.path.join(str(tmp_path / "binlog"),
                               "_ingest_checkpoint"))
    _ingest_once()
    assert dead_letter_count(str(tmp_path / "binlog")) == first
