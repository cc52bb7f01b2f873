"""The versioned latest-wins replica — the heart of the engine.

Reference semantics being reproduced (SURVEY.md §2.1/§2.3):

- every replica row carries ``_version`` (monotone per table); inserts append
  with a higher version (clickhouse_api.py:17–27, 303–366 — S5/K4)
- reads collapse duplicate PKs to the max-version row, ClickHouse
  ``ReplacingMergeTree(_version)`` + ``FINAL`` (clickhouse_api.py:107 — S7/A3)
- deletes remove all versions of a key (clickhouse_api.py:368–400 — S6)
- within a micro-batch, ops on the same key annihilate: a later ADD
  overwrites a pending ADD and cancels a pending DELETE, and vice versa
  (db_replicator_realtime.py:123–177 — K1/K2)

Spark-first design notes:

- Dedup-final is ONE aggregate: ``groupBy(pks).agg(max_by(struct(*cols),
  _version))``. Map-side partial aggregation halves the shuffle; at 100 TB
  this is a single exchange on the PK — the minimum possible. (Physically
  Spark plans a SortAggregate — the struct-typed buffer rules out
  HashAggregate — but partials still apply; the window ``row_number() == 1``
  formulation shuffles the same amount, also sorts, and cannot
  partial-aggregate, so the agg form stays the default. Both are provided
  and tested equivalent; tests/test_plan_shapes.py pins the plan shape.)
- Deletes are a left-anti join; the delete side is a distinct key set, tiny
  relative to the replica, so it is broadcast — no shuffle of the replica.
- Batch collapse (K1/K2) is the same ``max_by`` aggregate keyed on an
  explicit event sequence — the reference relies on dict insertion order,
  which has no distributed analog, so ordering is a first-class column here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

VERSION_COL = "_version"
OP_COL = "_op"          # 1 = ADD (insert/update), 2 = REMOVE
SEQ_COL = "_seq"        # total order of events: (tx_file, tx_pos, idx) flattened

OP_ADD = 1
OP_REMOVE = 2


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def stamp_version(df: DataFrame, pk_cols: list[str], order_col=None,
                  base_version: int = 0) -> DataFrame:
    """K4 — stamp each row with a deterministic monotone ``_version``.

    ``_version = base_version + row_number() over (order by order_col)``.

    The reference uses a driver-side counter (clickhouse_api.py:334–335);
    a distributed engine needs the order to be explicit. For a snapshot the
    natural order is the PK itself (any total order works: all snapshot rows
    are version-peers); for CDC batches the caller passes the event sequence.

    Scale note: a global row_number is a single-partition sort — fine for a
    micro-batch (bounded by flush cadence, ~100k rows), wrong for a 100 TB
    snapshot. Snapshots therefore use ``zipWithIndex``-free per-partition
    stamping: version = base + dense offset computed from
    ``spark_partition_id`` cumulative counts (see ``stamp_version_snapshot``).
    """
    order = order_col if order_col is not None else pk_cols[0]
    w = Window.orderBy(_as_col(order))
    return df.withColumn(VERSION_COL,
                         (F.row_number().over(w) + F.lit(base_version)).cast("long"))


def stamp_version_ranged(df: DataFrame, order_col: str,
                         base_version: int = 0,
                         buckets: int | None = None,
                         tie_breaks: tuple[str, ...] = ()) -> DataFrame:
    """K4 at any scale — the same total-order ``_version`` as
    ``stamp_version`` (``base + rank of order_col``) with NO
    single-partition sort.

    Plan: (1) one map-side-combined agg collects min/max of ``order_col``
    (driver gets 2 longs); (2) rows get a deterministic range bucket
    ``(order_col - lo) div width`` — pure arithmetic, no sampling, so the
    bucketing is identical across retries, unlike ``repartitionByRange``'s
    sampled bounds; (3) one more light agg counts rows per bucket (≤
    ``buckets`` rows to the driver) from which cumulative offsets are
    computed; (4) a window partitioned BY BUCKET stamps
    ``offset[bucket] + row_number() within bucket``. The only full-data
    exchange is the bucket-partitioned window shuffle — each partition
    sorts only its own range slice. Skewed ``order_col`` distributions
    make uneven buckets but never a whole-data single-task sort.

    Requires ``order_col`` to be a numeric column with a total order
    (event ids / sequence numbers — the CDC case).
    """
    spark = df.sparkSession
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    o = F.col(order_col)
    bounds = df.agg(F.min(o).alias("lo"), F.max(o).alias("hi")).collect()[0]
    if bounds.lo is None:  # empty input
        return df.withColumn(VERSION_COL, F.lit(None).cast("long"))
    lo, hi = int(bounds.lo), int(bounds.hi)
    width = max((hi - lo) // buckets + 1, 1)
    bucket_expr = F.expr(f"(({order_col} - {lo}L) div {width}L)")
    with_bucket = df.withColumn("__bucket", bucket_expr)

    counts = {int(r.b): int(r.n) for r in
              with_bucket.groupBy(F.col("__bucket").alias("b"))
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    offset_map = F.create_map(*[F.lit(x) for b in sorted(offsets)
                                for x in (b, offsets[b])])

    w = Window.partitionBy("__bucket").orderBy(
        o, *[F.col(t) for t in tie_breaks])
    return (with_bucket
            .withColumn(VERSION_COL,
                        (F.row_number().over(w)
                         + offset_map[F.col("__bucket")]
                         + F.lit(base_version)).cast("long"))
            .drop("__bucket"))


def stamp_version_snapshot(df: DataFrame, base_version: int = 0) -> DataFrame:
    """K4 at snapshot scale — all rows of one snapshot are version-peers
    (no two share a PK), so they can all take ``base_version + 1``: the next
    CDC batch starts from ``base_version + 1`` anyway via ``max(_version)``
    recovery (reference db_replicator_initial.py:450–470, A1).

    O(1) per row, no sort, no shuffle — survives any scale.
    """
    return df.withColumn(VERSION_COL, F.lit(base_version + 1).cast("long"))


def _non_pk_order(cols: list[str], pk_cols: list[str]) -> list[str]:
    return [c for c in cols if c not in pk_cols and c != VERSION_COL]


def dedup_final_agg(df: DataFrame, pk_cols: list[str],
                    version_col: str = VERSION_COL) -> DataFrame:
    """S7 — FINAL read: one row per PK, the max-version one.

    Single hash aggregate with map-side combine:
    ``groupBy(pks).agg(max_by(struct(payload), version), max(version))``.
    """
    payload = _non_pk_order(df.columns, pk_cols)
    if not payload:
        return df.groupBy(*pk_cols).agg(
            F.max(version_col).alias(version_col))
    winner = F.max_by(F.struct(*[F.col(c) for c in payload]), F.col(version_col))
    agg = df.groupBy(*pk_cols).agg(
        winner.alias("__w"), F.max(version_col).alias(version_col))
    out_cols = []
    for c in df.columns:
        if c in pk_cols or c == version_col:
            out_cols.append(F.col(c))
        else:
            out_cols.append(F.col("__w").getField(c).alias(c))
    return agg.select(*out_cols)


def dedup_final_window(df: DataFrame, pk_cols: list[str],
                       version_col: str = VERSION_COL) -> DataFrame:
    """S7 via window — reference formulation for testing equivalence.

    ``row_number() over (partition by pk order by version desc) == 1``.
    Shuffles on PK like the agg form but adds a per-partition sort; kept for
    cases where later operators want the full row untouched.
    """
    w = Window.partitionBy(*pk_cols).orderBy(F.col(version_col).desc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn"))


# default FINAL implementation
dedup_final = dedup_final_agg


def dedup_final_ops(df: DataFrame, pk_cols: list[str],
                    version_col: str = VERSION_COL,
                    op_col: str = OP_COL) -> DataFrame:
    """S7 over an append-only store with delete tombstones: collapse to the
    max-version row per PK, then drop keys whose winning op is REMOVE.

    This is the parquet-native ReplacingMergeTree: deletes append a PK-only
    tombstone instead of rewriting data files (an O(batch) write instead of
    an O(table) rewrite — the property that keeps CDC apply cheap at 100 TB);
    the tombstones fall out here at read time and at compaction.
    """
    winner = dedup_final_agg(df, pk_cols, version_col)
    return winner.where(F.col(op_col) != OP_REMOVE).drop(op_col)


def apply_deletes(replica: DataFrame, delete_keys: DataFrame,
                  pk_cols: list[str]) -> DataFrame:
    """S6 — remove every version of each deleted key.

    Left-anti join on the PK; the key set is distinct'd and broadcast (delete
    batches are bounded at 100k keys by the reference's erase_batch_size —
    broadcastable by construction), so the replica side never shuffles.
    """
    keys = delete_keys.select(*pk_cols).distinct()
    return replica.join(F.broadcast(keys), on=pk_cols, how="left_anti")


def collapse_batch(events: DataFrame, pk_cols: list[str],
                   seq_col=SEQ_COL, op_col: str = OP_COL) -> DataFrame:
    """K1/K2 — collapse a micro-batch to ONE final op per key.

    The reference's dict/set buffers (db_replicator_realtime.py:123–177):
    last op per key wins; ADD after DELETE reinstates, DELETE after ADD
    removes. With an explicit total order ``seq_col`` this is exactly
    ``max_by(struct(everything), seq)`` grouped by PK — one hash aggregate.

    Returns a DataFrame with the original columns, one row per key, where
    ``op_col`` tells the sink which branch (upsert vs delete) the key takes.
    """
    winner, out_cols = collapse_exprs(events.columns, pk_cols, seq_col)
    return events.groupBy(*pk_cols).agg(winner).select(*out_cols)


def collapse_exprs(columns: list[str], pk_cols: list[str],
                   seq_col=SEQ_COL) -> tuple[Column, list[Column]]:
    """``collapse_batch``'s expressions for a frame with ``columns``: the
    ``groupBy(pk_cols).agg`` winner and the projection back to
    ``columns``. They depend on the column names only, so a caller
    collapsing many batches of one shape can build them once."""
    payload = [c for c in columns if c not in pk_cols]
    winner = F.max_by(F.struct(*[F.col(c) for c in payload]),
                      _as_col(seq_col)).alias("__w")
    out_cols = [F.col(c) if c in pk_cols
                else F.col("__w").getField(c).alias(c) for c in columns]
    return winner, out_cols


def apply_cdc_batch(replica: DataFrame, batch: DataFrame, pk_cols: list[str],
                    base_version: int,
                    seq_col: str = SEQ_COL, op_col: str = OP_COL) -> DataFrame:
    """K3 — apply one collapsed CDC micro-batch to the replica.

    1. collapse to final-op-per-key (K1/K2),
    2. delete keys whose final op is REMOVE — and also keys being upserted
       (their old versions are superseded; removing them eagerly keeps the
       replica compact, the reference instead leaves them for FINAL/OPTIMIZE),
    3. stamp surviving ADDs with versions above ``base_version`` and append.

    The result is a plain DataFrame; the engine materializes it (Parquet
    append + periodic compaction) — see ``engine.py`` ``apply_batch``/``start_streaming``.
    """
    final_ops = collapse_batch(batch, pk_cols, seq_col=seq_col, op_col=op_col)
    adds = final_ops.where(F.col(op_col) == OP_ADD)
    kept = apply_deletes(replica, final_ops, pk_cols)
    stamped = stamp_version(adds, pk_cols, order_col=seq_col,
                            base_version=base_version)
    stamped = stamped.select(*[c for c in replica.columns])
    return kept.unionByName(stamped)


def changelog(before_state: DataFrame, batch_ops: DataFrame,
              pk_cols: list[str], op_col: str = OP_COL) -> DataFrame:
    """Change-data-feed OUT: classify one collapsed batch against the
    pre-batch state into row-level changes — ``insert`` (key unseen),
    ``update`` (key existed, final op ADD), ``delete`` (key existed,
    final op REMOVE); a REMOVE for a key that never existed is dropped.
    Emits ``change`` plus ``__before``/``__after`` payload structs for the
    caller to project — the outgoing twin of the Debezium envelope the
    engine ingests (sources/debezium.py), and what a downstream consumer
    needs to subscribe to the replica's changes instead of re-reading it.

    Scale: ONE left join keyed on the PK. ``batch_ops`` is micro-batch
    sized — broadcast it if the caller's before_state is the full replica;
    here the join builds on whatever partitioning the caller provides.
    """
    payload = [c for c in before_state.columns if c not in pk_cols]
    b = before_state.select(
        *pk_cols,
        F.struct(*[F.col(c) for c in payload]).alias("__before"),
        F.lit(True).alias("__existed"))
    t_payload = [c for c in batch_ops.columns
                 if c not in pk_cols and c != op_col]
    t = batch_ops.select(
        *pk_cols, F.col(op_col).alias("__op"),
        F.struct(*[F.col(c) for c in t_payload]).alias("__after"))
    joined = t.join(b, pk_cols, "left")
    change = (F.when(F.col("__op") == OP_REMOVE, F.lit("delete"))
              .when(F.col("__existed").isNull(), F.lit("insert"))
              .otherwise(F.lit("update")))
    return (joined
            .where(~((F.col("__op") == OP_REMOVE)
                     & F.col("__existed").isNull()))
            .select(*pk_cols, change.alias("change"),
                    F.col("__before"),
                    F.when(F.col("__op") == OP_REMOVE, F.lit(None))
                     .otherwise(F.col("__after")).alias("__after")))


def bucket_expr(pk_cols: list[str], n_buckets: int):
    """Deterministic PK-hash bucket id — the anti-entropy repair unit."""
    from ..functions.hashing import h60

    parts = [F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
             for c in pk_cols]
    return F.pmod(h60(F.concat_ws("|", *parts)), F.lit(n_buckets)) \
        .cast("int")


def bucket_digests(df: DataFrame, pk_cols: list[str],
                   n_buckets: int = 64,
                   cols: list[str] | None = None) -> DataFrame:
    """Per-bucket order-independent digests: the ``table_checksum`` terms
    aggregated under a PK-hash bucket key instead of globally, so two
    tables can be compared at sub-table granularity — B rows out
    regardless of table size, one map-side-combining aggregate."""
    from ..functions.hashing import h60

    cols = cols or df.columns
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
             for c in cols]
    term = h60(F.concat_ws("|", *parts)).cast("decimal(38,0)")
    return (df.groupBy(bucket_expr(pk_cols, n_buckets).alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(term).cast("decimal(38,0)").cast("string")
                 .alias("checksum")))


def diverged_buckets(source: DataFrame, replica: DataFrame,
                     pk_cols: list[str], n_buckets: int = 64,
                     cols: list[str] | None = None) -> DataFrame:
    """Buckets whose (count, checksum) digests differ between source and
    replica — the Merkle-lite anti-entropy comparison: each side is one
    digest aggregate, the diff is a full-outer join of two B-row frames
    (driver-collectable at any corpus size). A bucket present on one
    side only is diverged by definition."""
    s = bucket_digests(source, pk_cols, n_buckets, cols) \
        .withColumnRenamed("n_rows", "s_n").withColumnRenamed("checksum",
                                                              "s_c")
    r = bucket_digests(replica, pk_cols, n_buckets, cols) \
        .withColumnRenamed("n_rows", "r_n").withColumnRenamed("checksum",
                                                              "r_c")
    return (s.join(r, "bucket", "full_outer")
            .where(~(F.col("s_n").eqNullSafe(F.col("r_n"))
                     & F.col("s_c").eqNullSafe(F.col("r_c"))))
            .select("bucket"))


def table_checksum(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Order-independent data checksum for replica verification — the DATA
    twin of the engine's structure-drift check (engine.verify_structure):
    run the same digest on source and replica (or replica before/after a
    migration/compaction) and compare one row.

    ``sum(h60(concat_ws('|', cols)))`` + ``count(*)``: commutative, so the
    result is independent of row order, partitioning, and merge history —
    comparable across ANY two engines/layouts. The sum accumulates in
    DECIMAL(38,0) (60-bit terms: no overflow below ~10^20 rows, far past
    100 TB; a bare BIGINT sum would wrap in Spark but saturate to HUGEINT
    in DuckDB — not comparable). NULLs render as the literal 'NULL' inside
    the concat so (NULL) and ('NULL') differ from absent columns by
    position. One map-side-combined aggregate; output is a single row.
    """
    from ..functions.hashing import h60

    cols = cols or df.columns
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("NULL"))
             for c in cols]
    term = h60(F.concat_ws("|", *parts)).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(term).cast("decimal(38,0)").cast("string").alias("checksum"))


def scd2_history(events: DataFrame, pk_cols: list[str],
                 seq_col: str = SEQ_COL) -> DataFrame:
    """Slowly-changing-dimension Type 2 view of a CDC stream: every event
    becomes a validity interval ``[valid_from, valid_to)`` in sequence
    space, with ``is_current`` marking each key's live row. The reference
    keeps only latest-wins state; this derives the FULL history from the
    same event log — time-travel reads are
    ``WHERE valid_from <= v AND v < valid_to``.

    One window keyed on the PK (lead of the next event's seq) — partitions
    by key, each partition sorts only its own keys' events; no self-join.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*pk_cols).orderBy(seq_col)
    nxt = F.lead(seq_col).over(w)
    return (events
            .withColumn("valid_from", F.col(seq_col).cast("long"))
            .withColumn("valid_to",
                        F.coalesce(nxt.cast("long"),
                                   F.lit(2 ** 63 - 1)))
            .withColumn("is_current",
                        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0))))


def temporal_join(facts: DataFrame, dim_history: DataFrame,
                  key_cols: list[str], at_col: str,
                  valid_from: str = "valid_from",
                  valid_to: str = "valid_to",
                  how: str = "left") -> DataFrame:
    """Point-in-time (temporal) join: each fact row picks up the dimension
    version that was in effect at its own timestamp — the read pattern an
    SCD2 history (``scd2_history``) exists to serve, and one the
    reference's latest-wins replica cannot answer at all (it would join
    every fact to today's dimension row, silently rewriting history).

    Join condition: key equality AND ``valid_from <= at < valid_to``.
    Because ``scd2_history`` intervals partition sequence space per key,
    at most ONE dimension version matches each fact — the join never fans
    out. At scale the equality keys carry the shuffle exactly as a plain
    dimension join would; the range predicate evaluates inside each key
    group post-match, so there is no interval index to build and no
    theta-join blowup. Skewed fact keys behave identically to any keyed
    join (salt or AQE skew-split if needed).
    """
    fact_keys = [F.col(f"f.{k}") for k in key_cols]
    dim_keys = [F.col(f"d.{k}") for k in key_cols]
    cond = None
    for fk, dk in zip(fact_keys, dim_keys):
        eq = fk.eqNullSafe(dk)
        cond = eq if cond is None else cond & eq
    at = F.col(f"f.{at_col}")
    cond = (cond & (at >= F.col(f"d.{valid_from}"))
            & (at < F.col(f"d.{valid_to}")))
    dim_payload = [c for c in dim_history.columns if c not in key_cols]
    return (facts.alias("f")
            .join(dim_history.alias("d"), cond, how)
            .select([F.col(f"f.{c}") for c in facts.columns]
                    + [F.col(f"d.{c}").alias(c) for c in dim_payload]))


def snapshot_diff(old: DataFrame, new: DataFrame,
                  pk_cols: list[str]) -> DataFrame:
    """Reconciliation diff: the typed CDC delta that transforms snapshot
    ``old`` into snapshot ``new`` — (op ∈ insert/update/delete, PK,
    payload), payload from the NEW side for insert/update and the OLD
    side for delete. Applying the delta through the versioned CDC path
    (ADD for insert/update, REMOVE for delete) reconstructs ``new``
    exactly; unchanged keys emit nothing, so the batch is O(drift), not
    O(table) — the bootstrap-reconciliation / backfill-audit primitive
    (the reference's recovery story is a full re-snapshot,
    db_replicator_initial.py; replica_bucket_repair is the digest-
    scoped cousin when only the replica can be read).

    One full-outer join on the PK (both sides shuffle once on the key —
    unavoidable for a whole-table compare) and a null-safe struct
    equality on the payload; no per-column join fan-out, no driver
    materialization."""
    payload = [c for c in new.columns if c not in pk_cols]
    o = old.select(F.lit(1).alias("__o_mark"),
                   *[F.col(c).alias(f"__o_{c}") for c in old.columns])
    n = new.select(F.lit(1).alias("__n_mark"), *new.columns)
    cond = None
    for k in pk_cols:
        c = n[k].eqNullSafe(o[f"__o_{k}"])
        cond = c if cond is None else (cond & c)
    j = n.join(o, cond, "full_outer")
    op = (F.when(F.col("__o_mark").isNull(), F.lit("insert"))
          .when(F.col("__n_mark").isNull(), F.lit("delete"))
          .otherwise(F.lit("update")))
    same = F.struct(*[F.col(c) for c in payload]).eqNullSafe(
        F.struct(*[F.col(f"__o_{c}") for c in payload]))
    out_cols = [op.alias("op")]
    for k in pk_cols:
        out_cols.append(F.coalesce(F.col(k), F.col(f"__o_{k}")).alias(k))
    for c in payload:
        out_cols.append(
            F.when(F.col("__n_mark").isNull(), F.col(f"__o_{c}"))
            .otherwise(F.col(c)).alias(c))
    return (j.where(F.col("__o_mark").isNull()
                    | F.col("__n_mark").isNull() | ~same)
            .select(*out_cols))
