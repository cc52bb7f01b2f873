"""Lexical retrieval — full BM25 (Robertson/Sparck Jones) top-k over the
corpus, in EXACT integer arithmetic.

The repo's hybrid RRF query (similarity.hybrid_rrf_search) uses a
degenerate occurrence-count lexical arm; this is the real scorer a
production retrieval stack runs, kept engine-exact the same way the
TF-IDF query is (queries_ml.tfidf_top_terms): every float in the classic
formula is replaced by an integer-scaled rational, so Spark and any SQL
engine rank identically — float ln()/division differ in the last ulp
across runtimes and flip rankings at near-ties.

With k1 = 1.2 and b = 0.75 (the standard defaults), N docs, TL total
tokens, per-doc length dl and per-(doc,term) frequency tf:

    idf       = ln((N - df + 0.5)/(df + 0.5) + 1)      -- classic, floats
    idf6      = (1e6 * (2*(N - df) + 1)) div (2*df + 1)
                 -- the EXACT rational (N-df+0.5)/(df+0.5) scaled 1e6;
                 -- ln is monotone, and per-term ordering is all the sum
                 -- needs to stay deterministic, so the rational form
                 -- keeps BM25's df-ordering without any float
    tf-part   = tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/TL))
    tfn6      = (1e6 * 22*tf*TL) div (10*TL*tf + 3*TL + 9*dl*N)
                 -- multiply num/den by 10*TL: every operand integral
    score     = sum over query terms of idf6 * tfn6    -- decimal(38,0)

The products run in decimal(38,0) (HUGEINT on a DuckDB oracle): at a
100 TB corpus TL ~ 1e13 pushes the tfn6 numerator past int64, and
idf6*tfn6 past it again (the embedding_outlier_scores lesson).
Determinism note: this is a *variant* scoring (rational idf, not
ln-idf); it is documented as such and identical in both engines, which
is the property the oracle gate checks.

Scale shape: ONE tokenizing explode feeds a single per-doc aggregate
producing (dl, per-query-term tf) together — the corpus text is read
and tokenized exactly once, and the shuffle carries one row per doc
with |terms|+1 longs, not the token stream; df aggregates the (tiny)
per-term unpivot of that table; N/TL ride along as a broadcast one-row
frame (zero driver round-trips); the final top-k is a
TakeOrderedAndProject after a bounded per-doc sum."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fsutil
from . import UnsplittablePartition, staged
from ..cache import transient_persist
from ..functions.hashing import h60, words
from ..sources.snapshot import spread

BM25_SCALE = 1_000_000


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 20,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` documents for a term query under integer-exact BM25.

    Returns (doc_id, score, rank); ``score`` is decimal(38,0) — the
    1e12-scaled sum of idf6*tfn6 contributions — ordered descending with
    doc_id breaking ties."""
    terms = sorted({t.lower() for t in query_terms})
    # ONE explode pass stages (doc_id, dl, query-term tfs) — dl and the
    # per-term counts come out of the same scan-side aggregate, so the
    # corpus text is tokenized exactly once; TL derives from the dl table
    # and N from a pruned count scan (no text read).
    tok = spread(docs).select(F.col(id_col).alias("doc_id"),
                              F.explode(words(F.col(text_col))).alias("term"))
    # eager: dl/TL/N and the scoring branch first-touch this cache from
    # concurrent stages of one action (lazy = tokenize re-runs; stampede)
    per_doc = transient_persist(
        tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("dl"),
            *[F.sum(F.when(F.col("term") == t, 1).otherwise(0))
              .cast("long").alias(f"__tf_{i}")
              for i, t in enumerate(terms)]), eager=True)
    dl = per_doc.select("doc_id", "dl")
    n_tl = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n")).crossJoin(
        per_doc.agg(F.sum("dl").cast("long").alias("tl")))
    tf = (per_doc.select(
        "doc_id",
        F.explode(F.map_from_arrays(
            F.array(*[F.lit(t) for t in terms]),
            F.array(*[F.col(f"__tf_{i}") for i in range(len(terms))])))
        .alias("term", "tf"))
        .where(F.col("tf") > 0))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))

    dec = "decimal(38,0)"
    idf6 = F.expr(
        f"CAST({BM25_SCALE} AS {dec}) * CAST(2*(n - df) + 1 AS {dec}) "
        f"div CAST(2*df + 1 AS {dec})")
    tfn6 = F.expr(
        f"CAST({BM25_SCALE} AS {dec}) * CAST(22 AS {dec}) "
        f"* CAST(tf AS {dec}) * CAST(tl AS {dec}) "
        f"div (CAST(10 AS {dec})*CAST(tl AS {dec})*CAST(tf AS {dec}) "
        f"+ CAST(3 AS {dec})*CAST(tl AS {dec}) "
        f"+ CAST(9 AS {dec})*CAST(dl AS {dec})*CAST(n AS {dec}))")
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(n_tl))
              .withColumn("idf6", idf6)
              .withColumn("tfn6", tfn6)
              .groupBy("doc_id")
              .agg(F.sum(F.col("idf6").cast(dec) * F.col("tfn6").cast(dec))
                   .cast(dec).alias("score")))
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    from pyspark.sql import Window
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("doc_id", "score", "rank"))


def build_inverted_index(docs: DataFrame, span: int = 256,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Segmented inverted index: (term, seg, seg_n, postings, df) — the
    posting-list build behind every lexical retrieval stack (Lucene's
    per-segment postings, Sphinx/Manticore's doc-id-range shards).

    Segmentation is SPAN-based, not rank-based: a posting lands in
    segment ``doc_id div span``, so segments form deterministic doc-id
    ranges and — the scale point — NO per-term global sort ever happens.
    A rank-based split (row_number over the term's postings) would
    funnel a stopword's billions of postings through one window
    partition; span-based segmentation turns the same stopword into
    many (term, seg) groups, each bounded by ``span``, that aggregate
    independently with map-side combine. Hot terms cost more SEGMENTS,
    never a bigger task. Sorting happens inside each bounded segment
    (``sort_array`` on ≤ span elements, scan-local).

    ``df`` (corpus document frequency, the number every scorer needs) is
    a second term-keyed aggregate over the same distinct postings,
    joined back — term-uniform shuffle, no skew amplification.

    Postings are emitted as a comma-joined string: the portable surface
    for cross-engine hashing, and incidentally the compact wire form a
    downstream index loader consumes.
    """
    tok = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(words(F.col(text_col))).alias("term"))
           .distinct())
    seg = (tok.withColumn("seg", F.expr(f"doc_id div {span}"))
           .groupBy("term", "seg")
           .agg(F.count(F.lit(1)).alias("seg_n"),
                F.array_join(
                    F.transform(F.sort_array(F.collect_list("doc_id")),
                                lambda x: x.cast("string")),
                    ",").alias("postings")))
    dfreq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return seg.join(dfreq, "term").select(
        "term", "seg", "seg_n", "postings", "df")


_LEX_META = "_lex_meta.json"
_LEX_PENDING = "_lex_upsert_pending.json"
_LEX_SPLIT_PENDING = "_lex_split_pending.json"
_LEX_MERGE_PENDING = "_lex_merge_pending.json"
_LEX_COMPACT_PENDING = "_lex_compact_pending.json"
_LEX_UPSERT_STAGING = "_upsert_staging"
_LEX_SPLIT_STAGING = "_split_staging"
_LEX_MERGE_STAGING = "_merge_staging"
_LEX_COMPACT_STAGING = "_compact_staging"
# each staged action's intent manifest and snapshot directory
# (operators/staged.py — the protocol the IVF index shares)
_LEX = staged.Family(_LEX_META, {
    _LEX_PENDING: _LEX_UPSERT_STAGING,
    _LEX_SPLIT_PENDING: _LEX_SPLIT_STAGING,
    _LEX_MERGE_PENDING: _LEX_MERGE_STAGING,
    _LEX_COMPACT_PENDING: _LEX_COMPACT_STAGING})
# Default docmeta partition width (doc ids per dir). A layout knob, not
# a constant of the format: the descriptor records the width the index
# was built with, and it should be sized so the SPAN COUNT stays ~1e4
# whatever the corpus (1e10 docs -> ~1e6-wide spans) — the per-span
# stats map in the descriptor and the partition-directory listing are
# both O(span count).
_LEX_DSPAN = 4096


def _shard_expr(term_col, shards: int, splits: list[dict]):
    """Column: the shard holding ``term``'s postings under the index's
    split chain. Base placement is ``h60(term) % shards``; each recorded
    hot-shard split then moves the half of its source shard's terms
    whose salted secondary hash is odd to the split's new shard id.
    Applied IN RECORDED ORDER, so a split of a previously-split shard
    composes (the extendible-hashing shape, restated as a bounded
    deterministic chain any engine can follow). A term's postings always
    live in exactly ONE shard — the invariant every df recount and
    every probe relies on — because terms move wholesale, never rows.

    A chain entry with ``salt`` None is a MERGE (``merge_lexical_
    shards``): every term placed on ``src`` moves unconditionally to
    ``dst`` — the degenerate split, which is what lets splits and
    merges interleave in ONE ordered chain (placement must replay the
    operations in the order they happened)."""
    e = (h60(term_col) % shards).cast("int")
    for sp in splits:
        if sp.get("salt") is None:
            e = F.when(e == int(sp["src"]),
                       F.lit(int(sp["dst"]))).otherwise(e)
            continue
        moved = (h60(F.concat(F.lit(sp["salt"] + "|"), term_col))
                 % 2 == 1)
        e = F.when((e == int(sp["src"])) & moved,
                   F.lit(int(sp["dst"]))).otherwise(e)
    return e.cast("int")


def _term_shard_py(term: str, shards: int, splits: list[dict]) -> int:
    """Driver-side twin of ``_shard_expr`` — probes compute their shard
    sets at PLANNING time, so pruning never costs a Spark job."""
    from ..functions.hashing import h60_py

    s = h60_py(term) % shards
    for sp in splits:
        if s != int(sp["src"]):
            continue
        if sp.get("salt") is None \
                or h60_py(f"{sp['salt']}|{term}") % 2 == 1:
            s = int(sp["dst"])
    return s


def _tokenized_tf(docs: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """(doc_id, term, tf) — the per-doc term frequencies, persisted (the
    dl and df aggregates both consume it)."""
    tok = spread(docs).select(F.col(id_col).alias("doc_id"),
                              F.explode(words(F.col(text_col)))
                              .alias("term"))
    return transient_persist(
        tok.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("long").alias("tf")))


def _doc_meta(docs: DataFrame, per: DataFrame, id_col: str,
              shards: int, splits: list[dict] | None = None) -> DataFrame:
    """(doc_id, dl, shards) for EVERY doc — doc length and the SET of
    term shards holding the doc's postings, from ONE aggregate over the
    shared tf frame. Zero-token docs get dl=0 / empty shards, so
    ``count(docmeta)`` is the corpus document count n everywhere (the
    invariant the idempotent upsert meta recomputation relies on).
    Fusing length and membership into one table means the incremental
    upsert pays ONE span-partitioned rewrite per batch for both."""
    sums = per.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("dl"),
        F.collect_set(_shard_expr(F.col("term"), shards, splits or []))
         .alias("shards"))
    return (docs.select(F.col(id_col).alias("doc_id")).distinct()
            .join(sums, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("dl", F.lit(0)).cast("long").alias("dl"),
                    F.coalesce("shards",
                               F.array().cast("array<int>"))
                     .alias("shards")))


def write_lexical_index(docs: DataFrame, path: str, shards: int = 16,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        span_width: int = _LEX_DSPAN,
                        positions: bool = False) -> None:
    """Persist the lexical index as a TERM-SHARDED parquet table — the
    retrieval twin of ``similarity.write_ivf_index``: tokenization and
    tf/df/dl aggregation are paid ONCE at write, and every query
    afterwards reads only the ``h60(term) % shards`` partitions its
    terms hash to (directory pruning at planning time) plus a pushdown
    term filter inside them. Layout:

    - ``postings/`` — (term, doc_id, tf, df) partitioned by ``shard``,
      the columnar posting rows a scorer consumes directly,
    - ``positions/`` (only with ``positions=True``) — (term, doc_id,
      pos) partitioned by the SAME term-hash ``shard``: the positional
      posting table quoted-phrase retrieval probes
      (``phrase_match_indexed``), so a phrase query prunes to its own
      terms' shard directories at planning time instead of re-tokenizing
      the corpus per query (an O(corpus)-per-query retrieval shape).
      Token-stream-sized, hence opt-in; when enabled
      the build derives tf from the SAME posexplode pass, so the corpus
      still tokenizes exactly once,
    - ``docmeta/`` — (doc_id, dl, shards) partitioned by doc-id span:
      document length for BM25 normalization FUSED with the doc's term-
      shard membership set — the inverse mapping incremental upserts
      need. Doc ids spread across every term shard, so "which shards
      hold this doc's postings" is unanswerable from the postings
      layout without scanning ALL of them — O(index) IO per CDC batch,
      a scale-killer. The membership column
      answers it with a directory-pruned read of only the changed docs'
      spans — O(changed docs) whatever the index size (the same reason
      the reference's realtime loop touches only buffered keys per
      flush, db_replicator_realtime.py:324–374) — and because it rides
      the SAME table as dl, the upsert still rewrites only two
      span/shard-partitioned tables per batch (postings + docmeta), not
      three.
    - ``_lex_meta.json`` — {n, tl, shards, dspan, spans}: the corpus
      scalars BM25 needs, persisted WITH the index so probing never
      touches the corpus (the self-describing-descriptor rule the IVF
      index follows). ``spans`` maps each docmeta span to its own
      (doc count, token total): the incremental upsert refreshes ONLY
      the touched spans' entries and re-derives (n, tl) as sums — an
      O(changed spans) refresh instead of an O(corpus-doc-count)
      docmeta re-aggregate, which would be a full-index read on the CDC
      hot path. Per-span values are functions of
      the span's FINAL state (never deltas), so a crashed batch's
      re-run regenerates identical entries — the same idempotence the
      stateless full recount had, without its full scan. ``dspan`` is
      the span width the index was built with (the layout is
      self-describing; ``span_width`` sizes it so span COUNT stays
      ~1e4 at any corpus scale).

    Scale shape: one tokenizing explode feeds the (doc, term) tf
    aggregate; df joins term-keyed (term-uniform, no skew
    amplification); the shard column costs one scan-side hash; dl and
    shard membership come from ONE doc-keyed aggregate. Hot terms
    spread across doc-keyed parquet row groups — no per-term global
    sort anywhere."""
    import json
    import os

    from concurrent.futures import ThreadPoolExecutor

    pos_tok = None
    if positions:
        pos_tok = _tokenized_positions(docs, id_col, text_col)
        per = transient_persist(
            pos_tok.groupBy("doc_id", "term").agg(
                F.count(F.lit(1)).cast("long").alias("tf")))
    else:
        per = _tokenized_tf(docs, id_col, text_col)
    # persisted EAGERLY: the table writers below run on CONCURRENT
    # scheduler threads and all first-touch this chain (meta_df → per →
    # pos_tok) — without one eager materialization each overlapped
    # writer recomputed the whole tokenize for itself (cache stampede;
    # measured 3x the tokenize cost at sf0.1). One count() here pays
    # the chain once and populates all three caches serially.
    meta_df = transient_persist(
        _doc_meta(docs, per, id_col, shards)
        .withColumn("dspan", F.expr(f"doc_id div {span_width}")),
        eager=True)
    dfreq = per.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    postings = (per.join(dfreq, "term")
                .withColumn("shard", h60(F.col("term")) % shards))

    # every table clusters by its partition directory before the write
    # (fsutil.cluster_by_dir): unclustered, each writer task opened one
    # file per directory it held — tasks x dirs tiny files (measured
    # 416 for positions at sf0.1) that every later probe, fixture copy
    # and staged promotion paid for per file
    def _write_postings():
        (fsutil.cluster_by_dir(
            postings.select("shard", "term", "doc_id", "tf", "df"),
            "shard", "doc_id", shards)
         .write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(path, "postings")))

    def _write_docmeta():
        # docmeta partitioned by doc-id span so an incremental upsert
        # rewrites only the spans holding changed docs (the IVF
        # touched-cells rule); span size is width-bounded, so one file
        # per span is the right layout at any corpus scale
        (fsutil.cluster_by_dir(meta_df, "dspan", "doc_id")
         .write.mode("overwrite").partitionBy("dspan")
         .parquet(os.path.join(path, "docmeta")))

    def _write_positions():
        (fsutil.cluster_by_dir(
            pos_tok.withColumn("shard", (h60(F.col("term")) % shards)
                               .cast("int"))
            .select("shard", "term", "doc_id", "pos"),
            "shard", "doc_id", shards)
         .write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(path, "positions")))

    # the table writes are independent at BUILD time (no reader sees
    # the dir until the descriptor lands last), and all hang off the
    # same (eagerly materialized) persisted tokenize — submit
    # concurrently like checkpoint_pair so the later ones don't pay
    # scheduling + IO latency serially (the UPSERT path must stay
    # ordered: its docmeta commits strictly after postings for the
    # torn-batch superset contract). The two bounded descriptor
    # aggregates (span stats, per-shard posting counts) read the same
    # caches and depend on no write — they overlap on the same pool
    # instead of running serially after it.
    writers = [_write_postings, _write_docmeta]
    if positions:
        writers.append(_write_positions)
    # ONE per-span aggregate over the docmeta frame defines the
    # descriptor: spans[s] = (count, sum dl), with (n, tl) their sums —
    # the SAME state-based convention the upsert's O(changed spans)
    # refresh maintains (n = count(docmeta) = distinct doc ids; a
    # docs.count() here would diverge from the first upsert's refresh
    # on duplicate-id inputs and silently shift every idf6), and no
    # second corpus scan. The collect is bounded by the span COUNT,
    # which span_width keeps ~1e4 at any corpus size.
    spans_f = lambda: _span_stats_map(meta_df.select("dl", "dspan"))  # noqa: E731
    # per-shard posting-row counts seed the descriptor (one bounded
    # aggregate over the already-persisted tokenize — postings rows ==
    # per rows, the df join never changes the count), so the load-factor
    # poll starts descriptor-only from day one
    rows_f = lambda: {int(r.shard): int(r.n) for r in  # noqa: E731
                      per.groupBy((h60(F.col("term")) % shards)
                                  .cast("int").alias("shard"))
                      .agg(F.count(F.lit(1)).alias("n")).collect()}
    with ThreadPoolExecutor(max_workers=len(writers) + 2) as pool:
        futures = [pool.submit(w) for w in writers]
        spans_fut = pool.submit(spans_f)
        rows_fut = pool.submit(rows_f)
        for f in futures:
            f.result()
        spans_map = spans_fut.result()
        shard_rows = rows_fut.result()
    # read-back schemas (one footer read per table): what keeps the
    # index READABLE after a remove-everything CDC window sweeps every
    # partition directory — see fsutil.read_parquet_or_empty
    spark = docs.sparkSession
    schemas = {t: spark.read.parquet(os.path.join(path, t)).schema.json()
               for t in (["postings", "docmeta"]
                         + (["positions"] if positions else []))}
    # descriptor rides the Hadoop FS like the parquet it describes —
    # open() breaks on any non-local index path
    fsutil.write_text(
        os.path.join(path, _LEX_META),
        json.dumps(_lex_meta_doc(spans_map, shards, span_width,
                                 positions=positions, schemas=schemas,
                                 shard_rows=shard_rows)),
        spark=spark)


def _tokenized_positions(docs: DataFrame, id_col: str,
                         text_col: str) -> DataFrame:
    """(doc_id, pos, term) — the positional token stream, persisted
    (the tf aggregate and the positions write both consume it)."""
    return transient_persist(
        spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(words(F.col(text_col))).alias("pos", "term")))


def _span_stats_map(meta_rows: DataFrame) -> dict[str, list[int]]:
    """{dspan (as JSON-string key): [doc count, token total]} from a
    (…, dl, dspan) frame — the per-span stats the descriptor carries so
    corpus scalars never need a full docmeta scan. Bounded: one row per
    span."""
    rows = meta_rows.groupBy("dspan").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tl_s")) \
        .collect()
    return {str(int(r.dspan)): [int(r.n_s), int(r.tl_s)] for r in rows}


def _live_shards(shards: int, splits: list[dict]) -> set[int]:
    """Shard ids that are placement targets under the chain: the base
    range plus every split destination, minus every merged-away source
    (a merge entry — ``salt`` None — retires its src forever; ids are
    never reused)."""
    live = set(range(int(shards)))
    for sp in splits:
        live.add(int(sp["dst"]))
        if sp.get("salt") is None:
            live.discard(int(sp["src"]))
    return live


def _lex_meta_doc(spans_map: dict[str, list[int]], shards: int,
                  span_width: int, *, schemas: dict[str, str],
                  shard_rows: dict, positions: bool = False,
                  splits: list[dict] | None = None) -> dict:
    """The descriptor document: (n, tl) are DERIVED as sums over the
    per-span stats, so the two representations can never disagree.
    ``positions`` records whether the index carries the positional
    posting table (upserts must maintain it; phrase probes require it).
    ``splits`` is the hot-shard split chain (``split_lexical_shard``) —
    term placement is a pure function of (shards, splits), so the
    descriptor fully determines where every term lives."""
    doc = {"n": sum(v[0] for v in spans_map.values()),
           "tl": sum(v[1] for v in spans_map.values()),
           "shards": int(shards), "dspan": int(span_width),
           "positions": bool(positions),
           "splits": list(splits or []),
           "spans": spans_map,
           # per-shard posting-row counts, maintained INCREMENTALLY by
           # the upsert/split/merge (each already aggregates the touched
           # shards' merged rows) — what lets the load-factor poll read
           # the descriptor instead of a full postings groupBy per
           # window
           "shard_rows": {str(int(k)): int(v)
                          for k, v in shard_rows.items() if int(v) > 0},
           # read-back schemas captured at build: what lets a table
           # whose every partition was removed read as an EMPTY frame
           # instead of dying in parquet schema inference
           # (fsutil.read_parquet_or_empty)
           "schemas": dict(schemas)}
    return doc


def read_lex_meta(path: str, spark) -> dict:
    """The persisted lexical index descriptor, after
    ``staged.read_descriptor`` checked the index against the one layout
    today's writers produce (descriptor with ``schemas``, ``spans`` and
    ``shard_rows``, a ``docmeta/`` table, staged pending manifests). Any
    other index raises a ValueError naming the rebuild call."""
    return staged.read_descriptor(
        path, _LEX, ("schemas", "spans", "shard_rows"), "docmeta",
        "write_lexical_index", spark=spark)


def bm25_indexed_topk(spark, path: str, query_terms: list[str],
                      k: int = 20,
                      doc_filter: DataFrame | None = None) -> DataFrame:
    """BM25 top-k against a ``write_lexical_index`` table — the corpus is
    NEVER read: the probe plans a partition filter on the query terms'
    shards (computed driver-side with ``h60_py``, so pruning happens at
    planning time), pushes the term IN-filter into those partitions'
    scans, and scores the surviving posting rows with the SAME
    integer-exact arithmetic as ``bm25_topk`` (identical idf6/tfn6
    rationals, decimal(38,0) products) — so indexed and corpus-scan
    retrieval are bit-identical, which the equivalence test pins. The
    doc-length join leaves the strategy to AQE: for selective terms the
    (df-bounded) posting side auto-broadcasts and the full docmeta table
    streams through unshuffled; for a stopword-scale probe Spark falls
    back to a shuffle join instead of force-broadcasting a corpus-sized
    side into the driver.

    ``doc_filter`` — FILTERED retrieval, the metadata-predicate probe
    ("top-k matches WHERE lang='en'"): a one-column frame of allowed
    ``doc_id``s (typically the replica's FINAL state under the user's
    predicate, where parquet pushdown does the filtering). Semantics are
    the standard filtered-search contract: scores keep the CORPUS-level
    statistics (n, avgdl, df — ranking must not change because the view
    narrowed), but only allowed docs are scored and returned, and the
    top-k is complete under the predicate — the semi-join lands on the
    shard-pruned posting rows BEFORE scoring, never as a post-filter of
    an unfiltered top-k (which under-returns whenever the predicate is
    selective). AQE broadcasts the allowed side when it is small; a
    corpus-scale allow-list degrades to one shuffle of the df-bounded
    posting rows, never of the corpus."""
    import os

    meta = read_lex_meta(path, spark)
    n, tl, shards = meta["n"], meta["tl"], meta["shards"]
    splits = meta.get("splits", [])
    terms = sorted({t.lower() for t in query_terms})
    shard_ids = sorted({_term_shard_py(t, shards, splits) for t in terms})

    idx = (fsutil.read_parquet_or_empty(
               spark, os.path.join(path, "postings"),
               meta["schemas"].get("postings"))
           .where(F.col("shard").isin(shard_ids))
           .where(F.col("term").isin(terms))
           .select("term", "doc_id", "tf", "df"))
    if doc_filter is not None:
        idx = idx.join(doc_filter.select("doc_id").distinct(),
                       "doc_id", "left_semi")
    # column pruning keeps the shards membership array out of this scan
    dl = fsutil.read_parquet_or_empty(
        spark, os.path.join(path, "docmeta"),
        meta["schemas"].get("docmeta")).select("doc_id", "dl")

    dec = "decimal(38,0)"
    idf6 = F.expr(
        f"CAST({BM25_SCALE} AS {dec}) * CAST(2*({n} - df) + 1 AS {dec}) "
        f"div CAST(2*df + 1 AS {dec})")
    tfn6 = F.expr(
        f"CAST({BM25_SCALE} AS {dec}) * CAST(22 AS {dec}) "
        f"* CAST(tf AS {dec}) * CAST({tl} AS {dec}) "
        f"div (CAST(10 AS {dec})*CAST({tl} AS {dec})*CAST(tf AS {dec}) "
        f"+ CAST(3 AS {dec})*CAST({tl} AS {dec}) "
        f"+ CAST(9 AS {dec})*CAST(dl AS {dec})*CAST({n} AS {dec}))")
    scored = (idx.join(dl, "doc_id")
              .withColumn("idf6", idf6)
              .withColumn("tfn6", tfn6)
              .groupBy("doc_id")
              .agg(F.sum(F.col("idf6").cast(dec) * F.col("tfn6").cast(dec))
                   .cast(dec).alias("score")))
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    from pyspark.sql import Window
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("doc_id", "score", "rank"))


def _membership_shard_frame(docmeta: DataFrame, changed: DataFrame,
                            spans: list[int]) -> DataFrame:
    """Shards currently holding the changed docs' postings, from the
    span-partitioned docmeta table's membership column: the ``dspan``
    IN-filter prunes to the changed docs' directories at PLANNING time
    (PartitionFilters in the scan — pinned by test_plan_shapes), so
    discovery IO is O(changed docs) whatever the index size. Factored
    out so the plan pin tests exactly what the upsert runs."""
    return (docmeta.where(F.col("dspan").isin([int(s) for s in spans]))
            .join(changed, "doc_id")
            .select(F.explode("shards").alias("s"))
            .select(F.col("s").cast("long").alias("v")))


def upsert_lexical_index(spark, path: str, adds: DataFrame | None = None,
                         removes: DataFrame | None = None,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> dict:
    """Incremental maintenance of a ``write_lexical_index`` table — the
    lexical twin of ``similarity.upsert_ivf_index``: a CDC batch of new
    and deleted documents rewrites ONLY the term shards and docmeta spans
    it touches, never the whole index.

    Semantics: removes win inside a batch; re-adding a doc_id replaces
    its postings entirely. Because a term's rows all live in its ONE
    hash shard, recomputing df over a rewritten shard's merged rows IS
    the global df — so df stays exact without delta bookkeeping, and a
    term whose last posting disappears leaves the index.

    Affected-set discovery is ONE collect over the union of (a) shards
    of the changed docs' CURRENT terms, answered by the span-partitioned
    ``docmeta`` membership column with a directory-pruned read of ONLY
    the changed docs' spans — O(changed docs) IO per batch, never
    O(index) (a (shard, doc_id) scan of the full postings per 1 s CDC
    batch would dominate the index's incremental story at 100 TB), and
    (b) shards of the adds' new terms. The batch then rewrites exactly
    the touched postings shards and the touched docmeta spans (dl and
    membership ride the same table). Docmeta commits AFTER the postings
    — a torn batch leaves its membership a SUPERSET of the postings'
    real membership, so recovery re-discovers at worst a few
    already-clean shards, never misses one. The corpus scalars (n, tl)
    are refreshed by replacing ONLY the touched spans' entries in the
    descriptor's per-span stats map and summing — O(changed spans) per
    batch, never O(corpus): at 1e10 docs a full docmeta recount, not
    the batch, would dominate the apply loop. The refreshed entries
    come from one bounded aggregate over the staged docmeta — no
    post-write docmeta read at all (IO-pinned by
    test_round9_properties) — and they are functions of each span's
    FINAL state, not deltas, so re-running a crashed batch regenerates
    the identical merged span state, hence identical entries. All
    side-files and directory deletes go through the Hadoop FS (fsutil)
    so the index may live on any scheme Spark can write. An index built
    with positional postings (descriptor ``positions: true``) maintains
    ``positions/`` in the same batch: identical touched-shard set (a
    doc's positions live in exactly the shards its terms hash to),
    identical merge algebra, committed before docmeta — pinned by the
    upsert==rebuild equivalence test.

    Latency shape: at a 1 s CDC flush cadence the upsert's cost is its
    FIXED action count, not data volume — so the batch is budgeted in
    Spark jobs. The changed-id union skips a redundant distinct (each
    side arrives distinct; dup ids are harmless to anti-joins and the
    driver-side shard-set dedup), and every action with no ordering
    dependency overlaps on scheduler threads: the adds' new-term
    discovery runs beside the changed-spans collect, the docmeta merge
    and its span-stats refresh beside the postings and positions
    merges, the per-shard count beside the remaining staging writes.

    Crash contract (``operators/staged.py``, shared by every index
    action): the merged final content of the touched shards and spans
    is STAGED partitioned, df included
    (``_upsert_staging/{postings,positions,docmeta}``; the three staging
    writes overlap), the new descriptor is computed from the staged
    finals, and only then is the manifest written; the commit promotes
    postings (+ positions twin) with their emptied-shard sweep first,
    docmeta strictly after (superset membership on a tear), descriptor
    last. A torn commit is finished by the next lexical action's entry,
    and re-running the same batch stays equally safe (idempotent
    algebra)."""
    import os
    from functools import reduce

    meta = read_lex_meta(path, spark)
    # a torn action is committed FIRST: its snapshot is the only
    # trustworthy image of the shards/spans a torn commit may have
    # holed, and its descriptor fixes the placement every read below
    # (postings, docmeta) relies on
    meta = staged.finish_torn(spark, path, _LEX) or meta
    shards = meta["shards"]
    splits = meta.get("splits", [])
    schemas = meta["schemas"]
    dspan_w = int(meta.get("dspan", _LEX_DSPAN))
    postings = fsutil.read_parquet_or_empty(
        spark, os.path.join(path, "postings"), schemas.get("postings"))
    docmeta = fsutil.read_parquet_or_empty(
        spark, os.path.join(path, "docmeta"), schemas.get("docmeta"))
    spans_map = {k: [int(v[0]), int(v[1])]
                 for k, v in meta["spans"].items()}
    shard_rows = {int(k): int(v) for k, v in meta["shard_rows"].items()}

    id_frames = []
    if adds is not None:
        id_frames.append(adds.select(F.col(id_col).alias("doc_id"))
                         .distinct())
    if removes is not None:
        id_frames.append(removes.select(F.col(id_col).alias("doc_id"))
                         .distinct())
    if not id_frames:
        return {"shards": [], "dspans": []}
    # each side is distinct already; a union-level distinct would buy
    # nothing (dup ids are harmless to every consumer: anti-joins ignore
    # them, the membership join's shard set dedups driver-side, the spans
    # collect dedups in its aggregate) and would cost one more doc-id
    # shuffle on the upsert critical path
    changed = transient_persist(reduce(DataFrame.unionByName, id_frames))

    has_positions = bool(meta.get("positions", False))
    new_per = None
    new_meta = None
    new_pos = None
    if adds is not None:
        kept = adds if removes is None else adds.join(
            removes.select(F.col(id_col).alias(id_col)).distinct(),
            id_col, "left_anti")
        if has_positions:
            # positional index: ONE posexplode pass feeds both the
            # positions merge and (via aggregation) the tf merge — the
            # batch never tokenizes twice
            new_pos = _tokenized_positions(kept, id_col, text_col)
            new_per = transient_persist(
                new_pos.groupBy("doc_id", "term").agg(
                    F.count(F.lit(1)).cast("long").alias("tf")))
        else:
            # _tokenized_tf persists internally — no second wrapper (it
            # would burn a slot in the bounded cache registry for the
            # same frame)
            new_per = _tokenized_tf(kept, id_col, text_col)
        new_meta = _doc_meta(kept, new_per, id_col, shards,
                             splits=splits)

    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=3)
    try:
        # -- discovery, ONE job: the changed ids' spans and the adds'
        # new-term shards union into a single bounded distinct-collect
        # (at a 1 s CDC cadence jobs, not data, are the budget). The job
        # is also the first consumer of BOTH the changed and tokenize
        # caches, so it doubles as their materialization barrier before
        # the merge-phase consumers fork onto scheduler threads (an
        # unpopulated cache has no stampede protection; with positions
        # this same job populates the new_pos cache too).
        probe = changed.select(
            F.expr(f"doc_id div {dspan_w}").alias("v"),
            F.lit(1).alias("is_span"))
        if new_per is not None:
            probe = probe.unionByName(new_per.select(
                _shard_expr(F.col("term"), shards, splits)
                .cast("long").alias("v"), F.lit(0).alias("is_span")))
        probe_rows = probe.distinct().collect()
        touched_spans = sorted({int(r.v) for r in probe_rows
                                if r.is_span == 1})
        shard_set: set[int] = {int(r.v) for r in probe_rows
                               if r.is_span == 0}
        if touched_spans:
            # span-pruned membership read — O(changed docs), never a
            # postings scan
            shard_set |= {int(r.v) for r in _membership_shard_frame(
                docmeta, changed, touched_spans).distinct().collect()}
        touched_shards = sorted(shard_set)

        staging = os.path.join(path, _LEX_UPSERT_STAGING)

        # -- merge phase: the merges are independent of each other, so
        # the docmeta merge AND its span-stats refresh, and the
        # positions merge, stage on scheduler threads while the
        # postings merge stages here; the commit order (docmeta after
        # postings) is the manifest's, not the staging order.
        meta_f = None
        if touched_spans:
            cur_meta = (docmeta.where(F.col("dspan").isin(touched_spans))
                        .join(changed, "doc_id", "left_anti")
                        .select("doc_id", "dl", "shards"))
            mm = cur_meta
            if new_meta is not None:
                mm = mm.unionByName(new_meta)
            mm = mm.withColumn("dspan", F.expr(f"doc_id div {dspan_w}"))

            def _meta_side():
                # staged partitioned, so the commit promotes the span
                # dirs by rename — written once; the O(changed spans)
                # scalar refresh reads the staged blocks — still no
                # post-write docmeta read, and state-based, so a crashed
                # batch's re-run writes the identical map
                (fsutil.cluster_by_dir(mm, "dspan", "doc_id")
                 .write.mode("overwrite").partitionBy("dspan")
                 .parquet(os.path.join(staging, "docmeta")))
                # schema-aware read-back: a remove-everything batch
                # stages an EMPTY docmeta, and a partitioned empty
                # write leaves no files to infer from
                ck = fsutil.read_parquet_or_empty(
                    spark, os.path.join(staging, "docmeta"),
                    mm.schema.json())
                return _span_stats_map(ck.select("dl", "dspan"))

            meta_f = pool.submit(_meta_side)

        pos_f = None
        if touched_shards and has_positions:
            # positional twin of the postings rewrite: same touched
            # shards (a doc's positions live in exactly the shards its
            # terms hash to), same merge algebra; stages beside the
            # postings merge, commits right after it
            pos_tbl = fsutil.read_parquet_or_empty(
                spark, os.path.join(path, "positions"),
                schemas.get("positions"))
            cur_pos = (pos_tbl
                       .where(F.col("shard").isin(touched_shards))
                       .join(changed, "doc_id", "left_anti")
                       .select("shard", "term", "doc_id", "pos"))
            merged_pos = cur_pos
            if new_pos is not None:
                merged_pos = merged_pos.unionByName(
                    new_pos.withColumn(
                        "shard", _shard_expr(F.col("term"), shards, splits))
                    .select("shard", "term", "doc_id", "pos"))
            pos_f = pool.submit(
                lambda: fsutil.cluster_by_dir(
                    merged_pos, "shard", "doc_id",
                    len(touched_shards))
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(os.path.join(staging, "positions")))

        counts_f = None
        if touched_shards:
            cur = (postings.where(F.col("shard").isin(touched_shards))
                   .join(changed, "doc_id", "left_anti")
                   .select("shard", "term", "doc_id", "tf"))
            merged = cur
            if new_per is not None:
                merged = merged.unionByName(
                    new_per.withColumn(
                        "shard", _shard_expr(F.col("term"), shards, splits))
                    .select("shard", "term", "doc_id", "tf"))
            # df over the merged shards IS the global df (a term's rows
            # all live in its one shard): a term-keyed aggregate joined
            # back, NOT a term-keyed window — that would funnel a hot
            # term's entire posting list through one task, where the
            # aggregate keeps map-side combine and AQE keeps the join
            # broadcast/skew-safe
            dfreq = merged.groupBy("term").agg(
                F.count(F.lit(1)).cast("long").alias("df"))
            (fsutil.cluster_by_dir(
                merged.join(dfreq, "term")
                .select("shard", "term", "doc_id", "tf", "df"),
                "shard", "doc_id", len(touched_shards))
             .write.mode("overwrite").partitionBy("shard")
             .parquet(os.path.join(staging, "postings")))
            # schema-pinned read-back (staged == live schema by the
            # promotion contract) — no inference job; counting rows per
            # shard keeps the descriptor's shard_rows exact without any
            # postings re-read, and overlaps the remaining staging
            base = fsutil.read_parquet_or_empty(
                spark, os.path.join(staging, "postings"),
                schemas.get("postings"))
            counts_f = pool.submit(
                lambda: {int(r.shard): int(r.n) for r in
                         base.groupBy("shard")
                         .agg(F.count(F.lit(1)).alias("n")).collect()})
        fresh = meta_f.result() if meta_f is not None else {}
        if pos_f is not None:
            pos_f.result()
        counts = counts_f.result() if counts_f is not None else {}
    except BaseException:
        pool.shutdown(wait=True, cancel_futures=True)
        raise
    pool.shutdown(wait=True)

    # descriptor from the staged finals: emptied shards and spans drop
    # out, untouched entries carry verbatim, (n, tl) re-derive as sums
    for s in touched_shards:
        if counts.get(s):
            shard_rows[s] = counts[s]
        else:
            shard_rows.pop(s, None)
    for s in touched_spans:
        key = str(int(s))
        if key in fresh:
            spans_map[key] = fresh[key]
        else:
            spans_map.pop(key, None)
    promote = []
    if touched_shards:
        promote.append(staged.entry(staging, "postings", "shard",
                                    touched_shards, spark))
        if has_positions:
            promote.append(staged.entry(staging, "positions", "shard",
                                        touched_shards, spark))
    if touched_spans:
        promote.append(staged.entry(staging, "docmeta", "dspan",
                                    touched_spans, spark))
    staged.run(spark, path, _LEX, _LEX_PENDING, {
        "promote": promote,
        "descriptor": _lex_meta_doc(
            spans_map, shards, dspan_w, positions=has_positions,
            splits=splits, schemas=schemas, shard_rows=shard_rows),
        "shards": touched_shards, "dspans": touched_spans})
    return {"shards": touched_shards, "dspans": touched_spans}


def split_lexical_shard(spark, path: str,
                        shard: int | None = None) -> tuple[int, int]:
    """Split one overgrown lexical term shard IN PLACE — the lexical
    twin of ``similarity.split_ivf_cell``, and the ACTION behind the
    shard half of ``index_membership_stats``: term-hash sharding is
    uniform over VOCABULARY, not posting mass, so under real corpora a
    shard that happens to hold several stopwords outweighs its peers and
    every probe or upsert touching it pays that whole directory.

    Mechanics: the shard's TERMS (never individual postings) are
    repartitioned by a salted secondary hash — terms whose
    ``h60(salt|term)`` is odd move wholesale to a NEW shard id, the rest
    stay. Moving terms wholesale preserves the one-shard-per-term
    invariant that keeps df recomputation exact and probes
    single-directory per term; the flip side is the honest limitation
    that a single mega-hot TERM cannot be split this way (its postings
    must stay together — posting-level splits would break the df
    algebra). The split chain lives in the descriptor (``splits``:
    ordered ``{src, dst, salt}`` entries), making term placement a pure
    function of (shards, splits) that probes evaluate driver-side
    (``_term_shard_py``) and upserts evaluate scan-side
    (``_shard_expr``); splitting an already-split shard composes.

    Cost: O(shard) — the source directory rewrite,
    the positions twin when present, plus a membership rewrite of ONLY
    the spans holding the shard's documents (their ``shards`` arrays are
    recomputed state-based from the reassignment: old entries for
    {src, dst} out, the doc's fresh shard set in). Per-span dl stats are
    untouched, so the descriptor's spans map carries over verbatim.

    Crash contract (``operators/staged.py``): the re-placed rows, the
    positions twin, and the merged membership spans are STAGED
    (``_split_staging/{postings,positions,docmeta}``) with the new
    descriptor computed, and only then does the intent manifest exist;
    data dirs commit first, membership next, descriptor last. A torn
    split leaves moved postings invisible to probes (the descriptor
    still routes their terms to the src shard) — bounded recall loss,
    never wrong results — until the next lexical action (or this call
    with no shard) commits the manifest; ``upsert_lexical_index`` does so
    before applying a batch, so CDC traffic cannot apply against
    ambiguous placement. Salt selection walks a deterministic ladder in
    ONE bounded aggregate and takes the first salt that actually
    separates the shard's terms; a shard no salt can separate (a single
    hot term) raises before the manifest exists instead of committing a
    useless descriptor entry the load-factor policy would then stack
    forever. Returns ``(src_shard, new_shard)``."""
    import os

    meta = read_lex_meta(path, spark)
    pending = staged.pending(path, _LEX_SPLIT_PENDING, spark)
    if pending is not None and shard is not None \
            and shard != int(pending["src"]):
        raise ValueError(
            f"split_lexical_shard: unfinished split of shard "
            f"{pending['src']} pending at {path} — resume it "
            f"(shard=None) before splitting another")
    # a torn action (this split's own included) commits before any
    # shard/span directory is read
    meta = staged.finish_torn(spark, path, _LEX) or meta
    if pending is not None:
        return int(pending["src"]), int(pending["dst"])
    shards = int(meta["shards"])
    splits = list(meta.get("splits", []))
    has_positions = bool(meta.get("positions", False))
    dspan_w = int(meta.get("dspan", _LEX_DSPAN))
    schemas = meta["schemas"]
    postings_path = os.path.join(path, "postings")
    postings = fsutil.read_parquet_or_empty(
        spark, postings_path, schemas.get("postings"))
    if shard is None:
        top = (postings.groupBy("shard")
               .agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.col("n").desc(), F.col("shard")).first())
        if top is None:
            raise ValueError(
                f"split_lexical_shard: postings at {postings_path} "
                f"have no rows — an empty index has nothing to split")
        src = int(top.shard)
    else:
        if shard not in _live_shards(shards, splits):
            # validated BEFORE the manifest exists — a bogus id must
            # not wedge the split machinery (the IVF split's rule)
            raise ValueError(
                f"split_lexical_shard: shard {shard} is not a live "
                f"placement target of this index (base shards "
                f"0..{shards - 1} plus split destinations, minus "
                f"merged-away sources)")
        src = int(shard)
    dst = shards + len(splits)    # next free id, never reused

    staging = os.path.join(path, _LEX_SPLIT_STAGING)
    # no manifest ⇒ every prior action fully committed ⇒ one row per
    # (term, doc_id) by the placement invariant, so the split input
    # needs no dedup. df rides along unchanged: terms move wholesale, so
    # every term's posting count is placement-independent.
    rows = postings.where(F.col("shard").isin([src, dst]))
    # salt selection, ONE bounded aggregate: a shard holding few terms
    # can land them all on one side of a given salted hash — a
    # committed no-op split the load-factor policy would then stack
    # forever. Try a deterministic salt ladder and take the first that
    # actually separates; only a shard whose terms NEVER separate
    # (single hot term) raises — before the manifest exists, so nothing
    # is committed.
    candidates = [f"lexsplit{dst}"] + [f"lexsplit{dst}#{i}"
                                       for i in range(1, 8)]
    movers = [F.sum((h60(F.concat(F.lit(c + "|"), F.col("term")))
                     % 2).cast("long")).alias(f"m{i}")
              for i, c in enumerate(candidates)]
    stat = (rows.select("term").distinct()
            .agg(F.count(F.lit(1)).alias("nt"), *movers).first())
    if int(stat.nt) == 0:
        raise UnsplittablePartition(
            f"split_lexical_shard: shard {src} holds no "
            f"postings — nothing to split")
    salt = next((c for i, c in enumerate(candidates)
                 if 0 < int(stat[f"m{i}"]) < int(stat.nt)), None)
    if salt is None:
        raise UnsplittablePartition(
            f"split_lexical_shard: no salt separates the terms "
            f"of shard {src} — every candidate moved them all "
            f"to one side (a single hot term cannot be "
            f"rebalanced by term movement; posting mass per "
            f"TERM cannot be split without breaking the "
            f"one-shard-per-term df invariant)")
    moved = h60(F.concat(F.lit(salt + "|"), F.col("term"))) % 2 == 1
    reassigned = fsutil.cluster_by_dir(
        rows.withColumn(
            "shard", F.when(moved, F.lit(dst)).otherwise(F.lit(src))
            .cast("int")),
        "shard", "doc_id", 2)
    # staged PARTITIONED so the commit promotes the directories by
    # rename (the split's data is written exactly once — df rides in
    # the staged rows, terms move wholesale)
    (reassigned.write.mode("overwrite").partitionBy("shard")
     .parquet(os.path.join(staging, "postings")))
    # schema-pinned read-back (staged == live schema by the rename
    # promotion contract) — no inference job
    reassigned = fsutil.read_parquet_or_empty(
        spark, os.path.join(staging, "postings"), schemas.get("postings"))
    # ONE bounded aggregate feeds BOTH descriptor inputs: per-shard
    # posting counts (keeps shard_rows exact for the two rewritten
    # shards) AND the touched doc-span set — fewer jobs on the protocol
    # path. Cardinality is 2 shards x O(spans) rows — driver-trivial.
    shard_span_rows = (reassigned.groupBy(
        "shard", F.expr(f"doc_id div {dspan_w}").alias("v"))
        .agg(F.count(F.lit(1)).alias("n")).collect())
    counts: dict[int, int] = {}
    for r in shard_span_rows:
        counts[int(r.shard)] = counts.get(int(r.shard), 0) + int(r.n)
    if has_positions:
        pos_in = (fsutil.read_parquet_or_empty(
            spark, os.path.join(path, "positions"),
            schemas.get("positions"))
            .where(F.col("shard").isin([src, dst])))
        (fsutil.cluster_by_dir(
            pos_in.withColumn(
                "shard",
                F.when(moved, F.lit(dst)).otherwise(F.lit(src))
                .cast("int")),
            "shard", "doc_id", 2)
         .write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(staging, "positions")))
    # membership recompute, state-based from the staged reassignment:
    # only the spans holding the shard's documents; each touched doc's
    # shards array drops {src, dst} and gains its fresh shard set
    touched_spans = sorted({int(r.v) for r in shard_span_rows})
    if touched_spans:
        _stage_membership(spark, path, schemas, staging, reassigned,
                          touched_spans, src, dst)
    promote = [staged.entry(staging, "postings", "shard", [src, dst],
                            spark)]
    if has_positions:
        promote.append(staged.entry(staging, "positions", "shard",
                                    [src, dst], spark))
    if touched_spans:
        # the split never empties a span, so no span sweep
        promote.append(staged.entry(staging, "docmeta", "dspan", (),
                                    spark))
    # descriptor: dl/span stats are untouched by design, so the meta
    # carries over with the split appended and the two rewritten shards'
    # counts refreshed
    shard_rows = dict(meta["shard_rows"])
    for s in (src, dst):
        if counts.get(s):
            shard_rows[str(s)] = counts[s]
        else:
            shard_rows.pop(str(s), None)
    staged.run(spark, path, _LEX, _LEX_SPLIT_PENDING, {
        "promote": promote,
        "descriptor": dict(
            meta, splits=splits + [{"src": src, "dst": dst, "salt": salt}],
            shard_rows=shard_rows),
        "src": src, "dst": dst, "salt": salt,
        "counts": {str(k): v for k, v in counts.items()}})
    return src, dst


def _stage_membership(spark, path: str, schemas: dict, staging: str,
                      moved_rows: DataFrame, spans: list[int], src: int,
                      dst: int) -> None:
    """Stage the docmeta spans holding ``moved_rows``' documents with
    their membership recomputed state-based (split and merge): each
    moved doc's shards array drops {src, dst} and gains the shards its
    rows now live in."""
    import os

    doc_sets = (moved_rows.groupBy("doc_id")
                .agg(F.collect_set("shard").alias("fresh")))
    docmeta = fsutil.read_parquet_or_empty(
        spark, os.path.join(path, "docmeta"), schemas.get("docmeta"))
    (fsutil.cluster_by_dir(
        docmeta.where(F.col("dspan").isin(spans))
        .join(doc_sets, "doc_id", "left")
        .select(
            "doc_id", "dl",
            F.when(
                F.col("fresh").isNotNull(),
                F.array_union(
                    F.array_except(
                        F.col("shards"),
                        F.array(F.lit(src), F.lit(dst))
                        .cast("array<int>")),
                    F.col("fresh")))
            .otherwise(F.col("shards")).alias("shards"),
            "dspan"),
        "dspan", "doc_id")
     .write.mode("overwrite").partitionBy("dspan")
     .parquet(os.path.join(staging, "docmeta")))


def compact_lexical_index(spark, path: str,
                          shards: int | None = None) -> int | None:
    """Placement-chain compaction — the lexical OPTIMIZE FINAL analog
    (reference db_optimizer.py:71–80) and the twin of
    ``similarity.retrain_ivf_index``: a long split/merge chain leaves
    placement fragmented (split shards keep their skew, merged-away ids
    accumulate as retired chain slots, and every probe and upsert
    replays the whole chain per term). The compaction re-homes every
    term to a FRESH uniform base placement over the live-shard count
    and clears the chain: postings (and the positions twin) rewrite
    into ``h60(term) % n_live`` directories, every doc's membership set
    recomputes state-based from the committed re-placement, and the
    descriptor emerges with ``splits=[]`` — byte-identical to a
    from-scratch ``write_lexical_index(shards=n_live)`` build of the
    same corpus (pinned), the same 'as if rebuilt' contract the IVF
    retrain satisfies. BM25/phrase scores are placement-independent, so
    probes before and after are identical.

    Deliberately O(index) — the bounded periodic full pass that caps
    how far the incremental actions can drift, exactly like OPTIMIZE
    FINAL behind per-batch merges. dl, the per-span stats, n/tl, and df
    are all untouched (terms still move wholesale).

    ``shards`` — explicit target geometry: a corpus that GREW since the
    build wants MORE base shards than it started with (splits patch the
    hot spots but the base stays undersized), a shrunken one fewer; the
    default keeps the live count. The no-op guard only applies to the
    default: an explicit target re-homes even a chain-free index
    (re-sharding IS the point then).

    No-op guard: with no explicit target, an empty chain IS base
    placement — returns None without touching the index.

    Crash contract (``operators/staged.py``): the re-homed rows are
    STAGED (``_compact_staging/{postings,positions,docmeta}``, complete
    re-placed snapshots — the recomputed membership included, so a
    commit torn inside the docmeta promotion can never lose a span's dl)
    with the new descriptor computed, and only then does the intent
    manifest exist. Data first (postings, then positions), membership
    next, descriptor last; every pre-compaction shard dir not promoted
    disappears. A torn compaction is committed by the next lexical
    action (or this call with no target) from the manifest, so it
    writes the same descriptor — ``compactions`` counts the compaction
    once. An orphaned staging dir is inert (overwritten by the next
    compaction, reaped by the no-op). Returns the new shard count, or
    None for the no-op."""
    import os

    meta = read_lex_meta(path, spark)
    pending = staged.pending(path, _LEX_COMPACT_PENDING, spark)
    if pending is not None and shards is not None \
            and int(shards) != int(pending["shards"]):
        raise ValueError(
            f"compact_lexical_index: unfinished compaction to "
            f"{pending['shards']} shards pending at {path} — resume "
            f"it (shards=None) before compacting to another target")
    # a torn action commits first: the compaction reads every shard
    # directory, which a torn commit may have holed
    meta = staged.finish_torn(spark, path, _LEX) or meta
    if pending is not None:
        return int(pending["shards"])
    cur_shards = int(meta["shards"])
    splits = list(meta.get("splits", []))
    if not splits and shards is None:
        # base placement already: no-op — but reap orphaned staging
        # snapshots (crash between manifest delete and staging delete;
        # the rebuild is the natural GC point, and the torn manifest, if
        # any, was committed above, so nothing references these dirs)
        for d in _LEX.actions.values():
            fsutil.delete(os.path.join(path, d), spark=spark)
        return None
    if shards is not None:
        if int(shards) < 1:
            raise ValueError("compact_lexical_index: shards must be >= 1")
        k = int(shards)
    else:
        k = len(_live_shards(cur_shards, splits))
    has_positions = bool(meta.get("positions", False))
    schemas = meta["schemas"]

    staging = os.path.join(path, _LEX_COMPACT_STAGING)
    # no manifest ⇒ every action fully committed ⇒ one row per (term,
    # doc_id) by the placement invariant — no dedup shuffle
    rows = fsutil.read_parquet_or_empty(
        spark, os.path.join(path, "postings"), schemas.get("postings"))
    # the positions re-home is independent of the postings staging, and
    # the counts + membership stages only need the STAGED postings — so
    # positions overlaps the postings write, and counts + docmeta
    # overlap each other after it (three scheduler threads)
    from concurrent.futures import ThreadPoolExecutor

    def _stage_positions():
        if not has_positions:
            return
        (fsutil.cluster_by_dir(
            fsutil.read_parquet_or_empty(
                spark, os.path.join(path, "positions"),
                schemas.get("positions"))
            .withColumn("shard", (h60(F.col("term")) % k).cast("int")),
            "shard", "doc_id", k)
         .write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(staging, "positions")))

    with ThreadPoolExecutor(max_workers=3) as pool:
        pos_fut = pool.submit(_stage_positions)
        (fsutil.cluster_by_dir(
            rows.withColumn("shard", (h60(F.col("term")) % k)
                            .cast("int")),
            "shard", "doc_id", k)
         .write.mode("overwrite").partitionBy("shard")
         .parquet(os.path.join(staging, "postings")))
        reassigned = fsutil.read_parquet_or_empty(
            spark, os.path.join(staging, "postings"),
            schemas.get("postings"))
        # per-shard counts reseed the descriptor's shard_rows
        counts_fut = pool.submit(
            lambda: {int(r.shard): int(r.n) for r in
                     reassigned.groupBy("shard")
                     .agg(F.count(F.lit(1)).alias("n")).collect()})
        # membership recompute staged too: it reads the LIVE docmeta,
        # so recomputing it after a torn docmeta promotion would read a
        # holed span and lose its docs' dl/membership forever
        (fsutil.cluster_by_dir(
            fsutil.read_parquet_or_empty(
                spark, os.path.join(path, "docmeta"),
                schemas.get("docmeta"))
            .join(reassigned.groupBy("doc_id")
                  .agg(F.collect_set("shard").alias("fresh")),
                  "doc_id", "left")
            .select("doc_id", "dl",
                    F.coalesce("fresh",
                               F.array().cast("array<int>"))
                     .alias("shards"),
                    "dspan"),
            "dspan", "doc_id")
         .write.mode("overwrite").partitionBy("dspan")
         .parquet(os.path.join(staging, "docmeta")))
        pos_fut.result()
        counts = counts_fut.result()

    # pure directory promotion: the re-homed index is written exactly
    # once; every pre-compaction shard dir not promoted disappears. The
    # docmeta snapshot covers every doc, so all its spans promote with
    # no deletes.
    old_live = _live_shards(cur_shards, splits) | set(range(k))
    promote = [staged.entry(staging, "postings", "shard", old_live, spark)]
    if has_positions:
        promote.append(staged.entry(staging, "positions", "shard",
                                    old_live, spark))
    promote.append(staged.entry(staging, "docmeta", "dspan", (), spark))
    staged.run(spark, path, _LEX, _LEX_COMPACT_PENDING, {
        "promote": promote,
        "descriptor": dict(
            meta, shards=k, splits=[],
            shard_rows={str(s): n for s, n in counts.items() if n > 0},
            compactions=int(meta.get("compactions", 0)) + 1),
        "shards": k, "counts": {str(s): n for s, n in counts.items()}})
    return k


def merge_lexical_shards(spark, path: str, src: int | None = None,
                         dst: int | None = None) -> tuple[int, int]:
    """Merge one sparse term shard into another IN PLACE — the inverse
    of ``split_lexical_shard`` and the lexical half of the merge policy:
    without it, after a delete-heavy window the load-factor machinery
    could only fragment, and sparse shards would accumulate until a
    full rebuild. The merge moves BOTH shards' terms wholesale to
    ``dst`` and records the move as a chain entry with ``salt`` None —
    the degenerate split — so term placement stays a pure function of
    (shards, splits) that probes evaluate driver-side and upserts
    scan-side, splits and merges interleaving in one ordered chain.
    ``src`` is retired forever (ids are never reused). The df algebra
    is untouched: terms move wholesale, so every term still lives in
    exactly ONE shard.

    With no arguments, merges the two COLDEST live shards (fewest
    posting rows — from the descriptor's ``shard_rows`` map; ties to
    the lower id); the fuller one becomes ``dst``. Refuses to drop the live
    count below 2 (a 1-shard index defeats every probe's pruning).
    Cost: O(two shard directories) — rewrite + positions twin + a
    membership rewrite of only the spans holding the merged docs.

    Crash contract (``operators/staged.py``, as the split): the merged
    dst content, the positions twin, and the merged membership spans
    are STAGED (``_merge_staging/{postings,positions,docmeta}``) with
    the new descriptor computed, and only then does the intent manifest
    exist; data dirs first (dst promoted, src deleted), membership
    next, descriptor last. ``upsert_lexical_index`` commits a torn merge
    before applying a batch. Returns ``(src, dst)``."""
    import os

    meta = read_lex_meta(path, spark)
    pending = staged.pending(path, _LEX_MERGE_PENDING, spark)
    if pending is not None and src is not None \
            and src != int(pending["src"]):
        raise ValueError(
            f"merge_lexical_shards: unfinished merge of shard "
            f"{pending['src']} pending at {path} — resume it "
            f"(src=None) before merging another")
    # a torn action (this merge's own included) commits before any
    # shard/span directory is read
    meta = staged.finish_torn(spark, path, _LEX) or meta
    if pending is not None:
        return int(pending["src"]), int(pending["dst"])
    shards = int(meta["shards"])
    splits = list(meta.get("splits", []))
    has_positions = bool(meta.get("positions", False))
    dspan_w = int(meta.get("dspan", _LEX_DSPAN))
    schemas = meta["schemas"]
    live = _live_shards(shards, splits)
    if len(live) <= 2:
        raise UnsplittablePartition(
            f"merge_lexical_shards: index at {path} has {len(live)} "
            f"live shards — merging would leave fewer than 2")
    if src is None:
        counts = {c: 0 for c in live}
        counts.update({int(k): int(v)
                       for k, v in meta["shard_rows"].items()
                       if int(k) in live})
        a, b = sorted(live, key=lambda c: (counts[c], c))[:2]
        if (counts[a], -a) >= (counts[b], -b):
            src, dst = b, a
        else:
            src, dst = a, b
    else:
        if dst is None:
            raise ValueError("merge_lexical_shards: src given without dst")
        for name, c in (("src", src), ("dst", dst)):
            if c not in live:
                raise ValueError(
                    f"merge_lexical_shards: {name} shard {c} is not "
                    f"a live placement target of the index at {path}")
        if src == dst:
            raise ValueError("merge_lexical_shards: src == dst")

    staging = os.path.join(path, _LEX_MERGE_STAGING)
    # src/dst are distinct shards of a fully committed index, so (term,
    # doc_id) is already unique across their union
    rows = (fsutil.read_parquet_or_empty(
                spark, os.path.join(path, "postings"),
                schemas.get("postings"))
            .where(F.col("shard").isin([src, dst]))
            .withColumn("shard", F.lit(int(dst)).cast("int")))
    # staged PARTITIONED so the commit promotes by rename (ONE
    # evaluation of the union plan, one write — no isEmpty pre-pass).
    # Both shards empty (a delete wave swept them) falls out of the
    # staged listing: no shard dir written ⇒ descriptor-only merge.
    (fsutil.cluster_by_dir(rows, "shard", "doc_id", 2)
     .write.mode("overwrite").partitionBy("shard")
     .parquet(os.path.join(staging, "postings")))
    promote = [staged.entry(staging, "postings", "shard", [src, dst],
                            spark)]
    total = 0
    if promote[0]["live"]:
        rows = fsutil.read_parquet_or_empty(
            spark, os.path.join(staging, "postings"),
            schemas.get("postings"))
        # ONE bounded aggregate over the staged blocks feeds BOTH
        # descriptor inputs: the union's row total for shard_rows and
        # the touched doc-span set
        span_rows = (rows.groupBy(
            F.expr(f"doc_id div {dspan_w}").alias("v"))
            .agg(F.count(F.lit(1)).alias("n")).collect())
        total = sum(int(r.n) for r in span_rows)
        if has_positions:
            pos_in = (fsutil.read_parquet_or_empty(
                spark, os.path.join(path, "positions"),
                schemas.get("positions"))
                .where(F.col("shard").isin([src, dst])))
            (fsutil.cluster_by_dir(
                pos_in.withColumn("shard", F.lit(int(dst)).cast("int")),
                "shard", "doc_id", 2)
             .write.mode("overwrite").partitionBy("shard")
             .parquet(os.path.join(staging, "positions")))
            promote.append(staged.entry(staging, "positions", "shard",
                                        [src, dst], spark))
        touched_spans = sorted({int(r.v) for r in span_rows})
        if touched_spans:
            _stage_membership(spark, path, schemas, staging, rows,
                              touched_spans, src, dst)
            # the merge never empties a span, so no span sweep
            promote.append(staged.entry(staging, "docmeta", "dspan", (),
                                        spark))
    elif has_positions:
        # both shards empty: their positions dirs go too
        promote.append({"dir": "positions", "key": "shard",
                        "touched": [src, dst], "live": []})
    shard_rows = dict(meta["shard_rows"])
    shard_rows.pop(str(src), None)
    shard_rows.pop(str(dst), None)
    if total:
        shard_rows[str(dst)] = int(total)
    staged.run(spark, path, _LEX, _LEX_MERGE_PENDING, {
        "promote": promote,
        "descriptor": dict(
            meta, splits=splits + [{"src": int(src), "dst": int(dst),
                                    "salt": None}],
            shard_rows=shard_rows),
        "src": int(src), "dst": int(dst)})
    return int(src), int(dst)


def phrase_match_topk(docs: DataFrame, phrase: list[str], k: int = 10,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Positional phrase retrieval: rank documents by exact-adjacency
    occurrences of ``phrase`` (the quoted-query operator every lexical
    engine pairs with BM25 — reference users get it from ClickHouse's
    string search; here it's algebra over positional postings).

    Scale shape: the positional posting table (doc, term, pos) is
    filtered to the PHRASE'S OWN TERMS before anything joins — the same
    selectivity rule as the BM25 probes — so the adjacency self-join is
    bounded by the phrase terms' posting sizes, never the corpus; and
    the filtered postings are persisted so the corpus tokenizes ONCE,
    not once per phrase word (each per-term branch would otherwise
    re-run the whole explode). The join key is (doc_id, expected
    position): term j must sit at ``p0 + j``, so each further word is
    one equi-join, no window and no array re-scan. Top-k on
    (phrase_tf desc, doc_id) — fully tie-broken."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 terms")
    wanted = [t.lower() for t in phrase]
    toks = transient_persist(
        spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(words(F.col(text_col))).alias("p", "term"))
        .where(F.col("term").isin(wanted)))
    first = (toks.where(F.col("term") == wanted[0])
             .select("doc_id", F.col("p").alias("p0")))
    matched = first
    for j, term in enumerate(wanted[1:], start=1):
        nxt = (toks.where(F.col("term") == term)
               .select("doc_id", (F.col("p") - j).alias("p0")))
        matched = matched.join(nxt, ["doc_id", "p0"])
    hits = (matched.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("phrase_tf")))
    return _phrase_rank(hits, k)


def _phrase_rank(hits: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail of both phrase retrievals: fully tie-broken on
    (phrase_tf desc, doc_id)."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("phrase_tf").desc(), F.col("doc_id"))
    top = hits.orderBy(F.col("phrase_tf").desc(), F.col("doc_id")) \
        .limit(k)
    return (top.withColumn("rank", F.row_number().over(w))
            .select("doc_id", "phrase_tf", "rank"))


def phrase_match_indexed(spark, path: str, phrase: list[str],
                         k: int = 10) -> DataFrame:
    """Phrase retrieval against a ``write_lexical_index`` table built
    with ``positions=True`` — the corpus is NEVER read or re-tokenized:
    the probe prunes the positional posting table to the phrase terms'
    shards at PLANNING time (driver-side ``h60_py``, same protocol as
    ``bm25_indexed_topk``), pushes each term's equality filter into its
    pruned scan, and runs the identical adjacency algebra as
    ``phrase_match_topk`` (term j at position ``p0 + j`` via (doc_id,
    expected-position) equi-joins) — so indexed and corpus-scan phrase
    retrieval are bit-identical, which the equivalence test pins.

    This avoids an O(corpus)-per-query retrieval shape:
    ``phrase_match_topk`` posexplodes every document per phrase
    (fine for ad-hoc frames, a corpus scan per quoted query at 100 TB);
    here a phrase costs the phrase terms' postings only — the same
    reason reference users push ``position``/``hasSubsequence`` to the
    ClickHouse server instead of streaming rows out
    (reference clickhouse_api.py query passthrough)."""
    import os

    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 terms")
    meta = read_lex_meta(path, spark)
    if not meta.get("positions", False):
        raise ValueError(
            f"phrase_match_indexed: index at {path} was written without "
            f"positional postings — rebuild with positions=True (or use "
            f"phrase_match_topk for an ad-hoc corpus scan)")
    wanted = [t.lower() for t in phrase]
    shards = meta["shards"]
    shard_ids = sorted({_term_shard_py(t, shards, meta.get("splits", []))
                        for t in wanted})
    # NOT persisted: each per-term branch re-reads the shard-pruned
    # parquet with its own term equality pushed into the scan — tighter
    # IO than materializing all terms' rows once (and the scans prune to
    # the same few directories either way; plan-pinned)
    pos = (fsutil.read_parquet_or_empty(
               spark, os.path.join(path, "positions"),
               meta["schemas"].get("positions"))
           .where(F.col("shard").isin(shard_ids))
           .select("term", "doc_id", "pos"))
    matched = (pos.where(F.col("term") == wanted[0])
               .select("doc_id", F.col("pos").alias("p0")))
    for j, term in enumerate(wanted[1:], start=1):
        nxt = (pos.where(F.col("term") == term)
               .select("doc_id", (F.col("pos") - j).alias("p0")))
        matched = matched.join(nxt, ["doc_id", "p0"])
    hits = (matched.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("phrase_tf")))
    return _phrase_rank(hits, k)
