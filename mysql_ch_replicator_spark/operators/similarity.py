"""Similarity search over embedding columns (array<float>).

Three paths:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus, compute dot products with built-in higher-order
  functions (zip_with + aggregate — JVM-side, no Python), window top-k.
  The baseline, and the verifier for the approximate paths.
- ``lsh_topk`` — random-hyperplane LSH: corpus and queries are bucketed by
  the sign pattern of ``planes`` deterministic hyperplanes; only same-bucket
  candidates get exact scoring. At 100 TB the bucket join replaces the full
  cross product — the classic recall/cost dial.
- ``ivf_topk`` — inverted-file index: corpus partitioned into centroid
  cells, queries probe their ``probes`` nearest cells. At 100 TB the cell
  id becomes the corpus partition column, so probing is partition pruning.

Both approximate paths use deterministic md5-derived constants (no trained
state to persist), which also makes them oracle-checkable in plain SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import fsutil
from . import UnsplittablePartition, staged
from ..cache import transient_persist
from ..functions.hashing import h60
from ..sources.snapshot import spread


def _as_double(a) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.transform(a, lambda x: x.cast("double"))


def dot_expr(a, b) -> Column:
    """Dot product via zip_with + left-to-right float64 fold. Elements are
    cast to double BEFORE multiplying — float32 products would diverge from
    any SQL oracle computing in float64."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0),
                              lambda acc, v: acc + v * v))


def cosine_expr(a, b) -> Column:
    """Exact cosine similarity: float64 products summed left-to-right —
    bit-identical to a SQL `v[1]*w[1] + v[2]*w[2] + ...` chain."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id",
                     filter_cols: list[str] | None = None,
                     exclude_cols: list[str] | None = None) -> DataFrame:
    """Exact top-k neighbors per query vector.

    The query side is broadcast (ANN workloads have |queries| ≪ |corpus|),
    so the corpus is scanned once with no shuffle; the only exchange is the
    per-query top-k, which AQE keeps small because scores are pre-filtered
    by the window rank.

    ``filter_cols``: PRE-filtered search — corpus rows must match the
    query's value on each named column (the metadata-predicate retrieval
    shape). The equality lands inside the broadcast join condition, so
    non-matching candidates drop BEFORE any cosine is computed, and the
    k results are guaranteed complete under the predicate — unlike
    post-filtering an unfiltered top-k, which under-returns whenever the
    predicate is selective.

    ``exclude_cols``: the inequality twin — corpus rows must DIFFER from
    the query's value on each named column. The canonical use is hard-
    negative mining for contrastive training (nearest neighbors that do
    NOT share the query's label); same completeness guarantee, same
    pre-cosine placement in the join condition."""
    filter_cols = filter_cols or []
    exclude_cols = exclude_cols or []
    carried = list(dict.fromkeys(filter_cols + exclude_cols))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       *[F.col(c).alias(f"__q_{c}") for c in carried])
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("cv"),
                              *[F.col(c) for c in carried])
    cond = F.col("neighbor_id") != F.col("query_id")
    for fc in filter_cols:
        cond = cond & (F.col(fc) == F.col(f"__q_{fc}"))
    for fc in exclude_cols:
        cond = cond & (F.col(fc) != F.col(f"__q_{fc}"))
    scored = c.join(F.broadcast(q), cond) \
        .withColumn("cos", F.round(cosine_expr("qv", "cv"), 6))
    # rank on the ROUNDED score (the value the oracle ranks on and the
    # caller receives): ranking on the raw float while emitting the
    # rounded one leaves a latent cross-engine rank flip whenever two
    # cosines differ only past 6 dp and id order disagrees
    w = Window.partitionBy("query_id") \
        .orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos"))


def plane_components(planes: int, dims: int,
                     prefix: str = "") -> list[list[float]]:
    """Deterministic pseudo-random hyperplane components: plane p, dim d →
    ``(h60_py(prefix + p-d) % 2001 - 1000) / 1000`` computed driver-side
    with hashlib (identical constants are inlined into the Spark plan and
    the SQL oracle — no runtime hashing per row)."""
    import hashlib

    def h60_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [[(h60_py(f"{prefix}{p}-{d}") % 2001 - 1000) / 1000.0
             for d in range(dims)] for p in range(planes)]


def hyperplane_bucket(vec_col, planes: int, dims: int,
                      prefix: str = "") -> Column:
    """Random-hyperplane signature: concat of per-plane dot-product signs.

    Each plane's dot product is a zip_with against a literal array, folded
    left-to-right in float64 — the same addition order as the SQL oracle's
    ``v[1]*c1 + v[2]*c2 + …`` chain, so the sign (and bucket) is
    bit-identical. The array-literal form keeps the codegen expression tiny
    (one literal per plane instead of ``dims`` element_at terms)."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    vec_d = F.transform(vec, lambda x: x.cast("double"))
    comps = plane_components(planes, dims, prefix)

    def sign_bit(p: int) -> Column:
        plane = _lit_double_array(comps[p])
        dot = F.aggregate(F.zip_with(vec_d, plane, lambda x, c: x * c),
                          F.lit(0.0), lambda acc, v: acc + v)
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[sign_bit(p) for p in range(planes)])


def ivf_centroids(n_cells: int, dims: int,
                  prefix: str = "ivf") -> list[list[float]]:
    """Deterministic pseudo-random IVF cell centroids (same md5-derived
    constant scheme as plane_components — portable to the SQL oracle,
    no trained state to persist)."""
    return plane_components(n_cells, dims, prefix=prefix)


def _lit_double_array(vals: list[float]) -> Column:
    """Literal array<double> in ONE py4j call (64 F.lit() calls per plane/
    centroid would dominate query-build time — each is a JVM round trip)."""
    return F.expr("array(" + ", ".join(f"{v!r}D" for v in vals) + ")")


def _sq_dists(vec_d: Column, cents: list[list[float]],
              dead: set[int] | None = None) -> Column:
    """Array of squared L2 distances to each centroid (no sqrt — ordering
    is what matters). Left-to-right float64 folds, oracle-identical.

    ``dead`` (1-based cell ids): positions whose cell was merged away
    get a literal +inf instead of a distance, so no assignment or probe
    ever picks them — the SQL oracle mirrors this with the same
    'infinity'::DOUBLE substitution the multi-probe masking already
    uses. Deleting the centroid outright would renumber every higher
    cell id and force an O(index) directory rewrite."""
    dists = []
    for i, c in enumerate(cents):
        if dead and (i + 1) in dead:
            dists.append(F.lit(float("inf")))
            continue
        cent = _lit_double_array(c)
        dists.append(F.aggregate(
            F.zip_with(vec_d, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v))
    return F.array(*dists)


#: Default Lloyd quantization scale (2^22). Exactness bound: every squared
#: distance must stay an exact float64 integer, i.e.
#: dims × (2 · max|component| · scale)² < 2^53 — with dims=64 and
#: components in [-1, 1] (unit-ish embeddings + init centroids), 2^22 is
#: the largest power of two that fits. Pass a smaller scale for
#: larger-magnitude vectors.
QUANT_SCALE = 4_194_304.0


def quantize_expr(vec_col, scale: float = QUANT_SCALE) -> Column:
    """array<float> → array<long>: per-component ``floor(x · scale)``.
    Multiplying by a power of two is exact in float64 and floor is
    deterministic, so Spark and any SQL engine compute identical
    integers."""
    return F.transform(_as_double(vec_col),
                       lambda x: F.floor(x * F.lit(scale)).cast("long"))


def quantize_centroids(cents: list[list[float]],
                       scale: float = QUANT_SCALE) -> list[list[int]]:
    import math
    return [[math.floor(c * scale) for c in row] for row in cents]


def _sq_dists_quant(qcol: Column, cents_q: list[list[int]]) -> Column:
    """Array of EXACT squared L2 distances in quantized space: every term
    and every partial sum is an integer below 2^53, exactly representable
    in float64 — summation order cannot perturb the result, in Spark OR
    in any SQL oracle. (Contrast _sq_dists, whose float sums are pinned
    to a left-to-right fold order instead.)"""
    qd = F.transform(qcol, lambda x: x.cast("double"))
    dists = []
    for c in cents_q:
        cent = F.expr("array(" + ", ".join(f"{v}D" for v in c) + ")")
        dists.append(F.aggregate(
            F.zip_with(qd, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v))
    return F.array(*dists)


def train_ivf_centroids(corpus: DataFrame, vec_col: str, n_cells: int,
                        dims: int, iters: int = 5,
                        sample_fraction: float | None = None,
                        prefix: str = "ivf", id_col: str | None = None,
                        salt: str = "ivf-train",
                        quant_scale: float = QUANT_SCALE,
                        init_centroids: list[list[float]] | None = None
                        ) -> list[list[float]]:
    """Lloyd's k-means refinement of the IVF codebook, run as Spark jobs —
    in EXACT quantized arithmetic, so the whole training is reproducible
    bit-for-bit on any engine (it unrolls to plain SQL; see the
    ann_ivf_kmeans_topk DuckDB oracle).

    Components are quantized to ``floor(x · quant_scale)`` integers.
    Within the documented magnitude bound every squared distance and
    every per-cell component sum is an exact float64 integer, so neither
    Spark's unordered aggregation nor a SQL engine's can perturb
    assignments or means — the one FP hazard plain Lloyd has. The
    centroid update is ``floor(sum / count)`` back in quantized space
    (sum ≤ n·scale·max|x| stays exact), and the returned codebook is
    ``m / quant_scale`` — exact float64 division by a power of two. The
    quantization error (2^-22 per component) is orders of magnitude
    below the cluster scale, so recall is unaffected (pinned by
    tests/test_ann_recall.py).

    Each iteration: assign every vector to its nearest centroid
    (first-min tie-break toward the lower cell), then recompute each
    centroid as the element-wise quantized mean of its cell via
    posexplode + groupBy(cell, pos) — two shuffles of n×dims skinny rows
    per iteration. Empty cells keep their previous centroid.

    At 100 TB you train on a sample, not the corpus — ``sample_fraction``
    with ``id_col`` keeps rows by deterministic md5-hash threshold (the
    same portable h60 idiom the sampling operators use — NOT
    ``DataFrame.sample``, whose per-partition XORShift draw no SQL oracle
    can reproduce); the assign scan shrinks accordingly while the
    codebook stays k×dims floats on the driver."""
    import math

    vecs = corpus
    if sample_fraction is not None:
        if id_col is None:
            raise ValueError("sample_fraction requires id_col (the "
                             "deterministic hash-sample key)")
        thresh = int(round(sample_fraction * 10_000))
        bucket = h60(F.concat(F.lit(f"{salt}|"),
                              F.col(id_col).cast("string"))) % 10_000
        vecs = vecs.where(bucket < F.lit(thresh))
    q = vecs.select(quantize_expr(vec_col, quant_scale).alias("q")).persist()
    # init_centroids (float space, exact under quantize round-trip —
    # q/scale back to q for power-of-two scales) lets a caller seed from
    # the DATA (the split's farthest-point seeding) instead of the fixed
    # pseudo-random codebook
    cents_q = quantize_centroids(
        init_centroids if init_centroids is not None
        else ivf_centroids(n_cells, dims, prefix), quant_scale)
    for _ in range(iters):
        d = _sq_dists_quant(F.col("q"), cents_q)
        assigned = q.withColumn(
            "cell", F.array_position(d, F.array_min(d)).cast("int"))
        stats = (assigned.select("cell", F.posexplode("q"))
                 .groupBy("cell", "pos")
                 .agg(F.sum("col").alias("s"), F.count("col").alias("n"))
                 .collect())
        new = [list(c) for c in cents_q]
        for r in stats:
            # float division then floor — the exact sequence the SQL
            # oracle's floor(CAST(s AS DOUBLE)/n) performs
            new[r.cell - 1][r.pos] = math.floor(float(r.s) / float(r.n))
        cents_q = new
    q.unpersist()
    return [[m / quant_scale for m in row] for row in cents_q]


def ivf_assign(df: DataFrame, vec_col: str, n_cells: int, dims: int,
               probes: int = 1, prefix: str = "ivf",
               cells_col: str = "cells",
               centroids: list[list[float]] | None = None,
               dead_cells: list[int] | None = None) -> DataFrame:
    """Attach the ``probes`` nearest IVF cell ids (1-based array column).

    Single-probe argmin is ``array_position(d, array_min(d))`` — first
    occurrence, so ties break toward the lower cell id in both engines.
    Multi-probe selection sorts (distance, cell) structs and slices the
    first ``probes`` — EXACTLY the iterated mask-and-re-argmin the SQL
    oracles unroll (ascending distance, ties to the lower cell id is
    the same total order either way; ``array_sort`` on structs compares
    fields left-to-right, so the order is engine-independent —
    deterministic, unlike an argsort over distances alone). The sort
    form is what makes wide probes LINEAR: a per-probe masking chain
    re-embeds every previously-chosen-cell expression, so its
    expression tree grows exponentially in ``probes`` — invisible at the
    standard probes=2, a planner hang when the filtered-search
    auto-widen walks probes up to the live-cell count.

    The distance array is STAGED as a persisted column first: the probe
    expression references it and two downstream actions (the probed-cell
    collect and the candidate join) consume the result — inlined
    (CollapseProject) the O(n_cells × dims) subtree would be cloned per
    reference, exploding both driver-side planning time and per-row
    work. At 100 TB the stage is a written table; here, a cache.

    ``probes`` is clamped to the LIVE cell count (cells minus
    ``dead_cells``): once every live cell is chosen, the next-nearest
    slot is a dead/+inf cell — a duplicate or dead probe slot that
    would double-score neighbors downstream. Unreachable
    before merges existed (probes ≤ n_cells always found a fresh finite
    cell); reachable now on an index that organically merged down to
    few live cells, exactly when the filtered-search docstring advises
    widening probes."""
    vec = F.col(vec_col)
    vec_d = F.transform(vec, lambda x: x.cast("double"))
    cents = centroids if centroids is not None \
        else ivf_centroids(n_cells, dims, prefix)
    dead_set = {int(c) for c in dead_cells
                if 1 <= int(c) <= n_cells} if dead_cells else set()
    probes = max(1, min(probes, n_cells - len(dead_set)))
    d = _sq_dists(vec_d, cents, dead=dead_set or None)
    staged = transient_persist(df.withColumn("__d", d))

    if probes == 1:
        cells = F.array(
            F.array_position(F.col("__d"),
                             F.array_min(F.col("__d"))).cast("int"))
    else:
        pairs = F.zip_with(
            F.col("__d"), F.sequence(F.lit(1), F.lit(n_cells)),
            lambda dist, i: F.struct(dist.alias("d"),
                                     i.cast("int").alias("c")))
        cells = F.transform(F.slice(F.array_sort(pairs), 1, probes),
                            lambda s: s["c"])
    return staged.withColumn(cells_col, cells).drop("__d")


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_cells: int = 8, probes: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id",
             query_id_col: str = "query_id",
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF approximate top-k — the other standard ANN scale path (besides
    LSH): the corpus is inverted into ``n_cells`` centroid cells; each query
    scores only vectors in its ``probes`` nearest cells.

    At 100 TB: the cell id becomes the partition/bucket column of the
    corpus table, so a probe reads only ``probes/n_cells`` of the data —
    partition pruning does the candidate selection. Recall dial = probes."""
    from ..sources.snapshot import spread

    dims = len(corpus.select(vec_col).first()[0])
    c = ivf_assign(spread(corpus), vec_col, n_cells, dims, probes=1,
                   centroids=centroids) \
        .select(F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
                F.element_at("cells", 1).alias("cell"))
    q = ivf_assign(queries, vec_col, n_cells, dims, probes=probes,
                   centroids=centroids) \
        .select(F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("qv"),
                F.explode("cells").alias("cell"))
    scored = c.join(F.broadcast(q), "cell") \
        .where(F.col("neighbor_id") != F.col("query_id")) \
        .withColumn("cos", F.round(cosine_expr("qv", "cv"), 6))
    # rank on the rounded score — the value the oracle ranks on (same
    # latent cross-engine flip as brute_force_topk)
    w = Window.partitionBy("query_id") \
        .orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos"))


def lsh_buckets(vec_col, tables: int, planes: int, dims: int) -> Column:
    """Multi-table LSH bucket keys: one sign-pattern signature per table,
    each over its own ``planes`` hyperplanes, key-prefixed with the table
    id so buckets never collide across tables."""
    return F.array(*[
        F.concat(F.lit(f"{t}:"),
                 hyperplane_bucket(vec_col, planes, dims, prefix=f"t{t}-"))
        for t in range(tables)])


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int,
             tables: int = 8, planes: int = 4, vec_col: str = "embedding",
             id_col: str = "vec_id", query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH (OR-amplification):
    a candidate needs to agree with the query on ALL planes of ANY table.
    Single-table LSH collapses on weakly-clustered data (for near-uniform
    vectors P[8 signs agree] ≈ 0.4% — measured recall@10 was 0.015); with
    L=8 tables × 4 planes the same data measures ≈ 0.66 (floor pinned in
    tests/test_ann_recall.py). Cost dial: tables ↑ → recall ↑, candidates ↑."""
    dims = len(corpus.select(vec_col).first()[0])
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.explode(lsh_buckets(vec_col, tables, planes, dims)).alias("bucket"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       F.explode(lsh_buckets(vec_col, tables, planes, dims))
                        .alias("bucket"))
    scored = c.join(F.broadcast(q), "bucket") \
        .where(F.col("neighbor_id") != F.col("query_id")) \
        .dropDuplicates(["query_id", "neighbor_id"]) \
        .withColumn("cos", F.round(cosine_expr("qv", "cv"), 6))
    w = Window.partitionBy("query_id") \
        .orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos"))


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): 64-float vectors compressed to
# m subspace codes + asymmetric-distance (ADC) scoring
# ---------------------------------------------------------------------------

#: Codebook scale for normalized vectors: components of an L2-normalized
#: 64-dim vector are ~N(0, 1/64), so |x| ≈ 0.125 — centroids drawn from
#: the raw ±1 pseudo-random scheme sit far outside the data shell and
#: quantize poorly (measured recall@10 0.085); shrinking them to 1/16
#: matches the shell (0.265 single-stage, 0.91 after rerank at R=100).
PQ_BOOK_SCALE = 0.0625


def pq_codebooks(m: int, n_codes: int, sub_dims: int,
                 prefix: str = "pq",
                 scale: float = PQ_BOOK_SCALE) -> list[list[list[float]]]:
    """Per-subspace codebooks from the same deterministic md5-derived
    constant scheme as every other similarity primitive — portable to the
    SQL oracle, no trained state. books[j][c] is centroid c of subspace j.
    Scaled driver-side, so both engines inline identical literals."""
    return [[[c * scale for c in cent]
             for cent in ivf_centroids(n_codes, sub_dims,
                                       prefix=f"{prefix}{j}")]
            for j in range(m)]


def train_pq_codebooks(corpus: DataFrame, m: int = 16, n_codes: int = 16,
                       vec_col: str = "embedding", dims: int | None = None,
                       iters: int = 2,
                       sample_fraction: float | None = None,
                       id_col: str = "vec_id",
                       salt: str = "pq-train"
                       ) -> list[list[list[float]]]:
    """DATA-TRAINED product-quantizer codebooks — the real FAISS shape
    behind the deterministic-constant default (``pq_codebooks``): per
    subspace, Lloyd's k-means over the corpus's L2-NORMALIZED
    subvectors, run in the same EXACT quantized arithmetic as
    ``train_ivf_centroids`` (every distance and mean an exact float64
    integer), seeded from the shipped deterministic books — so training
    is bit-reproducible on any engine and needs no persisted RNG state.
    Feed the result to ``write_ivf_index(pq={"books": ...})`` (the
    descriptor carries the books, probes read them back) or to the
    in-memory ``ann_pq_topk``/``ivf_pq_topk`` via ``books=``.

    Scale shape: the deterministic hash-sample (md5 threshold on
    ``id_col`` — the FAISS practice, the IVF trainer's idiom) applies
    ONCE, BEFORE the normalization stage, so the persisted cache and
    every subspace scan hold only the sampled rows (at
    sample_fraction=0.001 that is 1000× less cache than sampling
    inside each train); the normalization is then staged once and each
    of the ``m`` subspace trains reads ``sd`` columns of that cache —
    m × iters bounded shuffles of skinny (cell, pos, sum, count) rows,
    never a re-scan of raw vectors."""
    probe = corpus.select(vec_col).first()
    if probe is None:
        raise ValueError("train_pq_codebooks: corpus has no rows")
    dims = len(probe[0]) if dims is None else int(dims)
    if dims % m:
        raise ValueError(f"train_pq_codebooks: m={m} must divide "
                         f"dims={dims}")
    sd = dims // m
    init = pq_codebooks(m, n_codes, sd)
    vecs = corpus
    if sample_fraction is not None:
        thresh = int(round(sample_fraction * 10_000))
        bucket = h60(F.concat(F.lit(f"{salt}|"),
                              F.col(id_col).cast("string"))) % 10_000
        vecs = vecs.where(bucket < F.lit(thresh))
    staged = transient_persist(vecs.select(
        normalize_expr(vec_col).alias("__v")))
    books = []
    for j in range(m):
        sub = staged.select(F.slice("__v", j * sd + 1, sd).alias("sub"))
        books.append(train_ivf_centroids(
            sub, "sub", n_codes, sd, iters=iters,
            salt=f"{salt}|{j}", init_centroids=init[j]))
    return books


def normalize_expr(vec_col) -> Column:
    """L2-normalized double vector — one fold for the norm, one divide per
    component, all correctly-rounded IEEE ops (cross-engine exact). After
    normalization, squared L2 is monotone in cosine (d² = 2 − 2cos), so a
    PQ scan over normalized vectors ranks by cosine similarity."""
    v = F.transform(F.col(vec_col) if isinstance(vec_col, str) else vec_col,
                    lambda x: x.cast("double"))
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(v, lambda x: x / n)


def pq_encode(vec_col, m: int, n_codes: int, dims: int,
              prefix: str = "pq", normalized: bool = False,
              books: list[list[list[float]]] | None = None) -> Column:
    """PQ code array (1-based ints, length ``m``): per subspace, the index
    of the L2-normalized subvector's nearest codebook centroid. 64 floats
    → ``m`` small ints — the memory-compressed corpus representation that
    makes billion-vector ANN RAM-resident. Argmin is first-occurrence
    ``array_position`` (ties to the lower code in both engines).

    Pass ``normalized=True`` with a pre-staged normalized column: inlined,
    the normalization fold would be cloned by CollapseProject into every
    one of the ``m × n_codes`` distance subtrees (the `ivf_assign` /
    `rolling_fingerprint` hazard — measured 20× slower).

    The whole encode is ONE nested higher-order expression over a single
    literal codebook array — an unrolled form (m × n_codes separate fold
    expressions) costs seconds of Catalyst ANALYSIS time per query, which
    dominated row work 10:1 on the measured corpus."""
    sd = dims // m
    vec_d = (F.col(vec_col) if isinstance(vec_col, str) else vec_col) \
        if normalized else normalize_expr(vec_col)
    books_lit = _books_lit(books if books is not None
                           else pq_codebooks(m, n_codes, sd, prefix))
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.element_at(
            F.transform(
                F.array(F.transform(
                    F.element_at(books_lit, (j + 1).cast("int")),
                    lambda cent: _sqd_fold(
                        F.slice(vec_d, j * sd + 1, sd), cent))),
                lambda d: F.array_position(d, F.array_min(d)).cast("int")),
            1))


def _books_lit(books: list[list[list[float]]]) -> Column:
    """One literal array<array<array<double>>> for all codebooks — a
    single parsed expression instead of m × n_codes literal arrays."""
    return F.expr("array(" + ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{v!r}D" for v in cent) + ")"
            for cent in book) + ")"
        for book in books) + ")")


def _sqd_fold(sub: Column, cent: Column) -> Column:
    """Squared L2 between two bound array vars — same left fold as
    ``_sq_dists`` (and the oracle's explicit chains)."""
    return F.aggregate(
        F.zip_with(sub, cent, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, t: acc + t)


def pq_distance_table(vec_col, m: int, n_codes: int, dims: int,
                      prefix: str = "pq", normalized: bool = False,
                      books: list[list[list[float]]] | None = None) -> Column:
    """ADC distance table for a query vector: dt[j][c] = squared L2 from
    the normalized query's j-th subvector to centroid c of subspace j —
    an ``m × n_codes`` nested array computed once per query, after which
    every corpus candidate costs ``m`` array lookups + ``m-1`` adds.
    Single nested-HOF expression for the same analysis-time reason as
    ``pq_encode``."""
    sd = dims // m
    vec_d = (F.col(vec_col) if isinstance(vec_col, str) else vec_col) \
        if normalized else normalize_expr(vec_col)
    books_lit = _books_lit(books if books is not None
                           else pq_codebooks(m, n_codes, sd, prefix))
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(books_lit, (j + 1).cast("int")),
            lambda cent: _sqd_fold(F.slice(vec_d, j * sd + 1, sd), cent)))


def _adc_score(m: int, dt_col: str = "dt",
               codes_col: str = "codes") -> Column:
    """The ADC sum: dt[j][codes[j]] summed left-to-right over the ``m``
    subspaces — m array lookups + m−1 adds per candidate. One shared
    fold so the three ADC consumers (ann_pq_topk, ivf_pq_topk, the
    persisted probe) can never drift apart."""
    score = F.element_at(F.element_at(dt_col, 1),
                         F.element_at(codes_col, 1))
    for j in range(1, m):
        score = score + F.element_at(F.element_at(dt_col, j + 1),
                                     F.element_at(codes_col, j + 1))
    return score


def ann_pq_topk(corpus: DataFrame, queries: DataFrame, k: int,
                m: int = 16, n_codes: int = 16, shortlist: int = 100,
                vec_col: str = "embedding", id_col: str = "vec_id",
                query_id_col: str = "query_id",
                books: list[list[list[float]]] | None = None) -> DataFrame:
    """Two-stage PQ ANN, the deployed shape: (1) ADC shortlist — the
    corpus is scanned as codes only (16× smaller than raw floats at the
    defaults), each query broadcasts its ``m × n_codes`` distance table,
    a candidate costs ``m`` array lookups + ``m−1`` adds, keep the
    ``shortlist`` best per query; (2) exact rerank — fetch raw vectors
    for shortlisted ids only and rank by true cosine. Measured recall@10
    vs brute force: 0.91 at (m=16, codes=16, R=100) on the synthetic
    corpus (floor pinned in tests/test_ann_recall.py).

    Scale: stage 1 is a shuffle-free compressed scan (queries broadcast,
    per-query top-R windows over partition-local candidates); stage 2
    touches |queries| × R raw vectors — the shortlist join broadcasts, so
    the corpus is never shuffled. The recall dial is ``shortlist``."""
    dims = len(corpus.select(vec_col).first()[0])
    # Stage the normalization ONCE: inlined, the 64-dim norm fold is cloned
    # into every one of the m × n_codes distance subtrees (CollapseProject
    # duplicates interpreted higher-order functions — measured 20×). At
    # 100 TB the staged frame is the written compressed index; here, a
    # cache of (id, raw vector, normalized vector).
    # eager: the encode branch and the exact-rerank branch first-touch
    # this cache from concurrent stages of one action (lazy = the norm
    # fold re-runs per branch; cache stampede, guide §5)
    cor = transient_persist(spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        normalize_expr(vec_col).alias("__v")), eager=True)
    enc = cor.select(
        "neighbor_id",
        pq_encode("__v", m, n_codes, dims, normalized=True,
                  books=books).alias("codes"))
    qd = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        normalize_expr(vec_col).alias("__qn"))
    qd = qd.select(
        "query_id", "qv",
        pq_distance_table("__qn", m, n_codes, dims, normalized=True,
                          books=books)
        .alias("dt"))
    joined = enc.crossJoin(F.broadcast(qd.select("query_id", "dt"))) \
        .where(F.col("neighbor_id") != F.col("query_id"))
    score = _adc_score(m)
    w1 = Window.partitionBy("query_id") \
        .orderBy(F.col("adc"), F.col("neighbor_id"))
    cands = (joined.withColumn("adc", score)
             .withColumn("__r", F.row_number().over(w1))
             .where(F.col("__r") <= shortlist)
             .select("query_id", "neighbor_id"))
    # stage 2: exact cosine on the shortlist only
    rer = (cands
           .join(cor.select("neighbor_id", "cv"), "neighbor_id")
           .join(F.broadcast(qd.select("query_id", "qv")), "query_id")
           .withColumn("cos", F.round(cosine_expr("qv", "cv"), 6)))
    w2 = Window.partitionBy("query_id") \
        .orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (rer.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos"))


OUTLIER_SCALE = 1024  # small quantization scale: keeps n^2*dist in int64


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int,
                n_cells: int = 8, probes: int = 2,
                m: int = 16, n_codes: int = 16, shortlist: int = 100,
                vec_col: str = "embedding", id_col: str = "vec_id",
                query_id_col: str = "query_id",
                centroids: list[list[float]] | None = None,
                books: list[list[list[float]]] | None = None) -> DataFrame:
    """IVF-PQ with exact re-ranking — the production FAISS index shape
    (IndexIVFPQ + refine), composing the two scale paths this module
    already ships: the IVF coarse quantizer restricts candidates to each
    query's ``probes`` nearest cells (at 100 TB the cell is the
    partition column, so the candidate stage READS probes/n_cells of
    the data), the PQ stage scans those candidates as ``m`` small codes
    (16× narrower than raw floats at the defaults) against each query's
    broadcast ADC table and keeps the ``shortlist`` best, and the final
    stage re-ranks only |queries| × shortlist raw vectors by exact
    cosine (``brute_force_topk``'s rounded-score/id-tie-break
    contract).

    Equality contracts (pinned): with an unbounded shortlist the result
    EQUALS ``ivf_topk`` at the same (n_cells, probes, centroids) — the
    PQ stage then only reorders a superset the exact rerank restores —
    and with full-coverage probes it equals ``brute_force_topk``. The
    two independent recall dials are ``probes`` (coverage) and
    ``shortlist`` (rerank depth).

    Scale shape: corpus assignment + normalization staged once (the
    persisted-index analog is write-time work); the code scan is
    shuffle-free with queries broadcast; both ranking stages are
    bounded per-query windows; the corpus never shuffles."""
    dims = len(corpus.select(vec_col).first()[0])
    cents = centroids if centroids is not None \
        else ivf_centroids(n_cells, dims, "ivf")
    # staged once: cell assignment + raw + normalized vector (the
    # inlined norm fold would be cloned into every PQ distance subtree —
    # the pq_encode hazard; at 100 TB this frame IS the written index)
    cor = transient_persist(
        ivf_assign(spread(corpus), vec_col, n_cells, dims, probes=1,
                   centroids=cents)
        .select(F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
                F.element_at("cells", 1).alias("cell"),
                normalize_expr(vec_col).alias("__v")), eager=True)
    enc = cor.select(
        "neighbor_id", "cell",
        pq_encode("__v", m, n_codes, dims, normalized=True,
                  books=books).alias("codes"))
    # both eager: encode + rerank (cor) and the cell explode + ADC
    # branches (qd) first-touch the caches from concurrent stages of
    # one action (lazy = assignment/ADC-table re-runs; stampede)
    qd = transient_persist(
        ivf_assign(queries.select(F.col(query_id_col).alias("query_id"),
                                  F.col(vec_col).alias("qv")),
                   "qv", n_cells, dims, probes=probes, centroids=cents)
        .select("query_id", "qv", "cells",
                pq_distance_table(normalize_expr("qv"), m, n_codes, dims,
                                  normalized=True,
                                  books=books).alias("dt")), eager=True)
    qcells = qd.select("query_id", "dt",
                       F.explode(F.array_distinct("cells")).alias("cell"))
    joined = enc.join(F.broadcast(qcells), "cell") \
        .where(F.col("neighbor_id") != F.col("query_id"))
    score = _adc_score(m)
    w1 = Window.partitionBy("query_id") \
        .orderBy(F.col("adc"), F.col("neighbor_id"))
    cands = (joined.withColumn("adc", score)
             .withColumn("__r", F.row_number().over(w1))
             .where(F.col("__r") <= shortlist)
             .select("query_id", "neighbor_id"))
    rer = (cands
           .join(cor.select("neighbor_id", "cv"), "neighbor_id")
           .join(F.broadcast(qd.select("query_id", "qv")), "query_id")
           .withColumn("cos", F.round(cosine_expr("qv", "cv"), 6)))
    w2 = Window.partitionBy("query_id") \
        .orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (rer.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cos"))


def embedding_outlier_scores(embeddings: DataFrame,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             group_col: str | None = "label",
                             scale: int = OUTLIER_SCALE) -> DataFrame:
    """Distance-to-centroid outlier scoring per group (label), the standard
    embedding-space quality filter (drop vectors far from their cluster
    center — mislabeled/garbled items).

    Integer-exact without ever materializing a float centroid: with
    quantized components xq = floor(x*scale), group size n and per-dim
    sums s_d, the score is

        dist_q = sum_d (n*xq_d - s_d)^2  =  n^2 * ||xq - mean(xq)||^2

    — exact integer arithmetic both engines compute identically.  The
    squared terms are accumulated in decimal(38,0), not int64: the
    worst-case per-dim term is (2*n*scale)^2, which at 64 dims silently
    wraps int64 around n ~ 2e5 group members; decimal(38,0)
    holds the sum exactly up to n ~ 6e14 per group, far past any real
    label cohort.  Comparable WITHIN a group (same n^2 factor), which is
    how outlier ranks are consumed; decimal ordering is exact.

    Scale notes: one posexplode + map-side-combining agg builds the
    (group, dim) sums table — |groups| x dims rows, broadcast back onto
    the corpus explode, so the corpus itself never shuffles before its
    final per-vector aggregation. Returns (vec_id, grp, n,
    dist_q decimal(38,0))."""
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        (F.col(group_col).alias("grp") if group_col
         else F.lit(0).alias("grp")),
        quantize_expr(vec_col, float(scale)).alias("xq"))
    exploded = base.select("vec_id", "grp",
                           F.posexplode("xq").alias("d", "x"))
    sums = (exploded.groupBy("grp", "d")
            .agg(F.sum("x").alias("s"),
                 F.count(F.lit(1)).alias("n")))
    diff = (F.col("n") * F.col("x") - F.col("s")).cast("decimal(19,0)")
    return (exploded.join(F.broadcast(sums), ["grp", "d"])
            .groupBy("vec_id", "grp")
            .agg(F.max("n").cast("long").alias("n"),
                 F.sum(diff * diff)
                 .cast("decimal(38,0)").alias("dist_q")))


def embedding_group_drift(embeddings: DataFrame,
                          vec_col: str = "embedding",
                          group_col: str = "label",
                          scale: float = QUANT_SCALE) -> DataFrame:
    """Per-group embedding-distribution drift vs the corpus: squared L2
    distance between the group's quantized mean vector and the GLOBAL
    quantized mean — the embedding-space twin of ``ks_drift`` (a source
    whose vectors drift from the corpus signals a scraper change, a
    language shift, or an encoder version mix BEFORE any downstream
    model sees it). All arithmetic is exact: component sums of
    ``floor(x·scale)`` integers stay below 2^53, means are
    ``floor(sum/count)`` (the Lloyd update rule, cross-engine
    floor-identical), and the final squared distance of two quantized
    means is an exact int64. Returns (group, n_vectors, drift_q).

    Scale shape: ONE posexplode + map-side-combining aggregate builds
    the (group, dim) sums (|groups|×dims rows); the global mean derives
    from re-aggregating those partials — never a second corpus scan —
    and joins back by dim position as a broadcast. The corpus shuffles
    nothing but the skinny (group, pos, component) explode."""
    qcol = quantize_expr(F.col(vec_col), scale)
    # eager: gmean and lmean first-touch this cache from concurrent
    # stages of one action (lazy = the corpus posexplode re-runs twice)
    per = transient_persist(
        spread(embeddings)
        .select(F.col(group_col).alias("grp"), F.posexplode(qcol))
        .groupBy("grp", "pos")
        .agg(F.sum("col").alias("s"), F.count("col").alias("n")),
        eager=True)
    gmean = (per.groupBy("pos")
             .agg(F.floor(F.sum("s").cast("double") / F.sum("n"))
                  .cast("long").alias("gm")))
    lmean = per.select(
        "grp", "pos", "n",
        F.floor(F.col("s").cast("double") / F.col("n"))
         .cast("long").alias("m"))
    return (lmean.join(F.broadcast(gmean), "pos")
            .groupBy("grp")
            .agg(F.max("n").cast("long").alias("n_vectors"),
                 F.sum((F.col("m") - F.col("gm"))
                       * (F.col("m") - F.col("gm")))
                  .cast("long").alias("drift_q")))


def cluster_quality(embeddings: DataFrame,
                    vec_col: str = "embedding",
                    group_col: str = "label",
                    scale: int = OUTLIER_SCALE) -> DataFrame:
    """Per-cluster compactness + separation report — the silhouette-lite
    health check on a labeled/clustered embedding table (is a label
    cohort tight? which other cluster is it closest to?), consumed when
    deciding whether clusters are clean enough for SemDeDup-style
    cell-scoped dedup or stratified sampling.

    Exact integer arithmetic end to end: components quantize to
    ``floor(x·scale)`` longs; each group's centroid is the per-dim
    TRUNCATING integer division ``s div n`` (Spark ``div`` and DuckDB
    ``//`` both truncate toward zero — identical on either sign, no
    float mean); inertia is ``Σ_v Σ_d (x − c_d)²`` accumulated in
    decimal(38,0) (sum takes decimal INPUT — a long² sum wraps
    silently); separation is the exact squared distance between centroid
    integer vectors, with the nearest neighbor tie-broken on group id.

    Scale shape: one posexplode feeds the (group, dim) sums aggregate
    (map-side combining — |groups|·dims rows out); centroids broadcast
    back onto the corpus explode so the corpus never shuffles before the
    final per-group aggregation; the centroid-pair stage is
    |groups|²·dims rows — dims-bounded, never corpus-sized. Returns
    (grp, n, inertia_q, nearest_grp, sep2)."""
    dec = "decimal(38,0)"
    base = spread(embeddings).select(
        F.col(group_col).alias("grp"),
        quantize_expr(vec_col, float(scale)).alias("xq"))
    exploded = base.select("grp", F.posexplode("xq").alias("d", "x"))
    sums = (exploded.groupBy("grp", "d")
            .agg(F.sum("x").alias("s"),
                 F.count(F.lit(1)).cast("long").alias("n")))
    cent = sums.select("grp", "d", "n",
                       F.expr("s div n").cast("long").alias("c"))

    diff = (F.col("x") - F.col("c")).cast(dec)
    inertia = (exploded.join(F.broadcast(cent), ["grp", "d"])
               .groupBy("grp")
               .agg(F.max("n").cast("long").alias("n"),
                    F.sum(diff * diff).cast(dec).alias("inertia_q")))

    a = cent.select(F.col("grp").alias("ga"), "d", F.col("c").alias("ca"))
    b = cent.select(F.col("grp").alias("gb"), "d", F.col("c").alias("cb"))
    pair = (a.join(b, "d").where(F.col("ga") != F.col("gb"))
            .groupBy("ga", "gb")
            .agg(F.sum((F.col("ca") - F.col("cb"))
                       * (F.col("ca") - F.col("cb")))
                 .cast("long").alias("dist2")))
    w = Window.partitionBy("ga").orderBy("dist2", "gb")
    near = (pair.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("ga").alias("grp"),
                    F.col("gb").alias("nearest_grp"),
                    F.col("dist2").alias("sep2")))
    return inertia.join(near, "grp")


def mmr_rerank(corpus: DataFrame, queries: DataFrame, k: int = 5,
               shortlist: int = 20, lam: float = 0.5,
               vec_col: str = "embedding", id_col: str = "vec_id",
               query_id_col: str = "query_id") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    — the standard diversity pass on a retrieval shortlist: greedily pick
    ``argmax lam*rel(c) - (1-lam)*max_{s in picked} sim(c, s)`` k times,
    so results are relevant AND mutually dissimilar (RAG context
    assembly, diverse few-shot selection).

    Two-stage, scale-first: stage 1 is ``brute_force_topk`` (corpus
    scanned once, queries broadcast, per-query top-``shortlist``); stage 2
    runs entirely on the shortlist working set — |q|*N rows with an
    |q|*N^2 pairwise-sim table — through k unrolled DataFrame rounds
    (anti-join picked, max-sim join, per-query window argmax), each
    ``localCheckpoint``ed so plans stay linear. Nothing about the corpus
    is touched after stage 1; the greedy loop's cost is independent of
    corpus size.

    Cross-engine exact: rel and sim are rounded to 6 dp (on bit-identical
    float64 chains), scores are float64 arithmetic on those rounded
    values, ranks tie-break on neighbor_id. Returns
    (query_id, neighbor_id, rank, score), rank 1..k."""
    short = brute_force_topk(corpus, queries, shortlist,
                             vec_col=vec_col, id_col=id_col,
                             query_id_col=query_id_col) \
        .withColumnRenamed("cos", "rel").drop("rank")
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("cv"))
    sv = short.join(cv, "neighbor_id") \
        .select("query_id", "neighbor_id", "rel", "cv").localCheckpoint()
    x = sv.select("query_id", F.col("neighbor_id").alias("a"),
                  F.col("cv").alias("va"))
    y = sv.select("query_id", F.col("neighbor_id").alias("b"),
                  F.col("cv").alias("vb"))
    sims = (x.join(y, "query_id")
            .where(F.col("a") != F.col("b"))
            .select("query_id", "a", "b",
                    F.round(cosine_expr("va", "vb"), 6).alias("s"))
            .localCheckpoint())

    w1 = Window.partitionBy("query_id") \
        .orderBy(F.col("rel").desc(), F.col("neighbor_id"))
    sel = (sv.withColumn("rn", F.row_number().over(w1))
           .where(F.col("rn") == 1)
           .select("query_id", "neighbor_id",
                   F.lit(1).alias("rank"),
                   F.round("rel", 6).alias("score"))
           .localCheckpoint())
    wq = Window.partitionBy("query_id") \
        .orderBy(F.col("score").desc(), F.col("neighbor_id"))
    for r in range(2, k + 1):
        ms = (sims.join(sel.select("query_id",
                                   F.col("neighbor_id").alias("b")),
                        ["query_id", "b"])
              .groupBy("query_id", F.col("a").alias("neighbor_id"))
              .agg(F.max("s").alias("ms")))
        scored = (sv.select("query_id", "neighbor_id", "rel")
                  .join(sel.select("query_id", "neighbor_id"),
                        ["query_id", "neighbor_id"], "left_anti")
                  .join(ms, ["query_id", "neighbor_id"])
                  .withColumn("score",
                              F.lit(lam) * F.col("rel")
                              - F.lit(1.0 - lam) * F.col("ms")))
        pick = (scored.withColumn("rn", F.row_number().over(wq))
                .where(F.col("rn") == 1)
                .select("query_id", "neighbor_id",
                        F.lit(r).alias("rank"),
                        F.round("score", 6).alias("score")))
        sel = sel.unionByName(pick).localCheckpoint()
    return sel


def semi_hard_triplets(corpus: DataFrame, anchors: DataFrame,
                       margin: float = 0.05,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       query_id_col: str = "query_id",
                       label_col: str = "label") -> DataFrame:
    """Semi-hard triplet mining (Schroff et al. 2015, FaceNet): for each
    anchor, the hardest same-label POSITIVE (max cosine, excluding self)
    and the hardest SEMI-HARD different-label negative — one farther
    than the positive but inside the margin band,
    ``pos_cos - margin < neg_cos < pos_cos`` — the regime that trains a
    metric without the collapse risk of fully-hard negatives. The
    data-mining half of contrastive training, beside
    ``exclude_cols``-based hard-negative retrieval.

    Scale shape: ONE corpus scan computes every (anchor, candidate)
    cosine with the anchors broadcast; the slim projected candidate
    frame (ids, label match flag, rounded cos) is staged once and feeds
    both the positive argmax and the negative band filter — the corpus
    text/vectors never shuffle and never scan twice. At 100 TB the
    candidate generation swaps for IVF-probed shortlists per anchor;
    the mining algebra on top is unchanged. Anchors without a same-label
    peer, or without a negative inside their band, yield no row (the
    standard in-batch mining behavior). Cosines are rounded to 6 dp
    BEFORE every comparison, so Spark and a SQL oracle rank and band
    identically. Returns (query_id, pos_id, neg_id, pos_cos, neg_cos)."""
    from ..cache import transient_persist

    a = anchors.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       F.col(label_col).alias("__q_label"))
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("cv"),
                              F.col(label_col).alias("__c_label"))
    # eager: the pos and neg branches first-touch this cache from
    # concurrent stages of one action (lazy = the corpus-wide cosine
    # scan re-runs per branch; cache stampede, guide §5)
    cand = transient_persist(
        c.join(F.broadcast(a), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                (F.col("__c_label") == F.col("__q_label")).alias("same"),
                F.round(cosine_expr("qv", "cv"), 6).alias("cos")),
        eager=True)
    pos = (cand.where(F.col("same"))
           .groupBy("query_id")
           .agg(F.max_by("neighbor_id",
                         F.struct(F.col("cos"),
                                  (-F.col("neighbor_id")).alias("nid")))
                .alias("pos_id"),
                F.max("cos").alias("pos_cos")))
    # pos/neg are anchor-sized by construction (one row per anchor) —
    # broadcast them explicitly rather than trusting AQE stats on the
    # cached candidate frame
    neg = (cand.where(~F.col("same"))
           .join(F.broadcast(pos), "query_id")
           .where((F.col("cos") < F.col("pos_cos"))
                  & (F.col("cos") > F.col("pos_cos") - F.lit(margin)))
           .groupBy("query_id")
           .agg(F.max_by("neighbor_id",
                         F.struct(F.col("cos"),
                                  (-F.col("neighbor_id")).alias("nid")))
                .alias("neg_id"),
                F.max("cos").alias("neg_cos")))
    return (pos.join(F.broadcast(neg), "query_id")
            .select("query_id", "pos_id", "neg_id", "pos_cos", "neg_cos"))


_IVF_META = "_ivf_meta.json"   # underscore prefix: invisible to parquet scans
_IVF_PENDING = "_ivf_upsert_pending.json"
_IVF_SPLIT_PENDING = "_ivf_split_pending.json"
_IVF_MERGE_PENDING = "_ivf_merge_pending.json"
_IVF_RETRAIN_PENDING = "_ivf_retrain_pending.json"
_IVF_MEMBERS = "_vecmeta"      # id-span-partitioned vec_id→cell membership
_IVF_VSPAN = 4096              # membership partition width (vec ids per dir)
_IVF_UPSERT_STAGING = "_upsert_staging"
_IVF_SPLIT_STAGING = "_split_staging"
_IVF_MERGE_STAGING = "_merge_staging"
_IVF_RETRAIN_STAGING = "_retrain_staging"
# each staged action's intent manifest and snapshot directory
# (operators/staged.py — the protocol the lexical index shares)
_IVF = staged.Family(_IVF_META, {
    _IVF_PENDING: _IVF_UPSERT_STAGING,
    _IVF_SPLIT_PENDING: _IVF_SPLIT_STAGING,
    _IVF_MERGE_PENDING: _IVF_MERGE_STAGING,
    _IVF_RETRAIN_PENDING: _IVF_RETRAIN_STAGING})


def write_ivf_index(corpus: DataFrame, path: str, n_cells: int = 8,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    centroids: list[list[float]] | None = None,
                    meta_cols: list[str] | None = None,
                    pq: dict | None = None) -> None:
    """Materialize the IVF index as a CELL-PARTITIONED parquet table —
    the 100 TB deployment shape of ``ivf_topk``: cell assignment is paid
    once at write, and every probe afterwards reads only
    ``probes/n_cells`` of the data via PARTITION PRUNING (the cell
    predicate never reaches row groups — it prunes whole directories at
    planning time). The assignment scan is the only full pass.

    The centroids that defined the assignment are persisted WITH the
    index (``_ivf_meta.json`` beside the partitions — the underscore
    prefix keeps it out of parquet file listings, the _SUCCESS
    convention): an index probed with different centroids silently
    searches the wrong cells, so the index must be self-describing.
    k-means-trained and default hyperplane indexes
    round-trip identically.

    ``meta_cols``: metadata columns carried INTO the index rows beside
    the vector (label, lang, source...) — the payload pattern every
    production vector store uses, and what makes ``ivf_index_topk``'s
    ``filter_cols`` (filtered vector search, the default RAG probe) a
    predicate on the probed cells' scan instead of a corpus re-scan.
    The list is persisted in the descriptor; upserts must supply the
    same columns (reference-shaped rationale: ClickHouse pushes WHERE
    into the replica read, clickhouse_api.py:417-430 — index probes
    must compose with predicates the same way).

    ``pq`` — persist PQ codes beside the raw vectors (the FAISS
    IndexIVFPQ layout, the persisted form of the in-memory
    ``ivf_pq_topk`` composition): ``{"m": 16, "n_codes": 16}`` writes a
    ``codes`` column (array<int>, length m) into every cell partition
    and a ``pq`` block (m, n_codes, and the full codebooks) into the
    descriptor, so ``ivf_index_topk(pq_shortlist=...)`` can scan probed
    cells as m small codes (16× narrower than raw floats at the
    defaults — at 100 TB the candidate stage's IO) and re-rank only the
    shortlist against raw vectors. Codebooks default to the same
    deterministic scheme as ``ivf_pq_topk`` (``pq_codebooks``) so the
    persisted probe equals the in-memory composition bit-for-bit
    (pinned); pass ``{"books": [...]}`` to override. Codes depend only
    on (embedding, books), so upsert re-encodes adds from the
    descriptor and split/merge/retrain carry codes through unchanged."""
    import json
    import os

    probe = corpus.select(vec_col).first()
    if probe is None:
        # the dims probe on an empty corpus would die with a cryptic
        # NoneType subscript; a maintained index built off a not-yet-
        # populated replica hits this first
        raise ValueError(
            "write_ivf_index: corpus has no rows — the vector dimension "
            "cannot be inferred from an empty table (populate the source "
            "first, or build later from the maintainer)")
    dims = len(probe[0])
    cents = centroids if centroids is not None \
        else ivf_centroids(n_cells, dims, "ivf")
    cents = [[float(x) for x in c] for c in cents]
    meta_cols = list(meta_cols or [])
    pq_block = None
    if pq is not None:
        m, n_codes = int(pq["m"]), int(pq["n_codes"])
        if dims % m:
            raise ValueError(
                f"write_ivf_index: pq m={m} must divide dims={dims}")
        books = pq.get("books") or pq_codebooks(m, n_codes, dims // m)
        pq_block = {"m": m, "n_codes": n_codes,
                    "books": [[[float(x) for x in cent] for cent in book]
                              for book in books]}
    assigned = ivf_assign(
        corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("embedding"),
                      *[F.col(c) for c in meta_cols]),
        "embedding", n_cells, dims, probes=1, centroids=cents) \
        .withColumn("cell", F.element_at("cells", 1)).drop("cells")
    if pq_block is not None:
        # normalization staged through a persisted column: inlined, the
        # norm fold would be cloned into every one of the m × n_codes
        # encode subtrees (the pq_encode hazard — measured 20×)
        assigned = transient_persist(
            assigned.withColumn("__v", normalize_expr("embedding")))
        assigned = assigned.withColumn(
            "codes", pq_encode("__v", pq_block["m"], pq_block["n_codes"],
                               dims, normalized=True,
                               books=pq_block["books"])).drop("__v")
    # clustered by cell before the write (fsutil.cluster_by_dir): the
    # per-row assignment/encode work stays on the scan's parallelism,
    # the exchange lands each cell in few writer tasks — files per cell
    # bounded by the secondary-key count instead of the task count (the
    # hash write-distribution shape; at 100 TB a cell keeps
    # shuffle.partitions/n_cells-way write parallelism)
    (fsutil.cluster_by_dir(assigned, "cell", "vec_id", n_cells)
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    # vec_id→cell membership, id-span-partitioned, derived from the
    # COMMITTED index (a 2-column read-back — no second assignment
    # pass): the inverse mapping incremental upserts need. Vec ids
    # spread across every cell, so "which cell holds this id" is
    # unanswerable from the cell layout without scanning the whole
    # index per CDC batch; the membership table answers it with a
    # directory-pruned read of the changed ids' spans — O(batch). The
    # underscore prefix keeps the subdir out of the index's own scans.
    spark = corpus.sparkSession
    idx_rb = spark.read.parquet(path)   # ONE read-back: members + schema
    (fsutil.cluster_by_dir(
        idx_rb
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .withColumn("vspan", F.expr(f"vec_id div {_IVF_VSPAN}")),
        "vspan", "vec_id")
     .write.mode("overwrite").partitionBy("vspan")
     .parquet(os.path.join(path, _IVF_MEMBERS)))
    # meta rides the Hadoop FS like the parquet it describes — open()
    # would break on any non-local index path
    # read-back schemas (one footer read per table): what keeps the
    # index READABLE after a remove-everything CDC window sweeps every
    # cell/vspan directory — see fsutil.read_parquet_or_empty
    schemas = {
        "index": idx_rb.schema.json(),
        "members": spark.read.parquet(
            os.path.join(path, _IVF_MEMBERS)).schema.json()}
    doc = {"n_cells": n_cells, "dims": dims,
           "centroids": cents, "schemas": schemas,
           "meta_cols": meta_cols}
    if pq_block is not None:
        doc["pq"] = pq_block
    fsutil.write_text(os.path.join(path, _IVF_META), json.dumps(doc),
                      spark=spark)


def _ivf_membership_cells(members: DataFrame, ids: DataFrame,
                          spans: list[int]) -> DataFrame:
    """Cells currently holding the changed ids, from the span-partitioned
    ``_vecmeta`` membership table: the ``vspan`` IN-filter prunes to the
    changed ids' directories at PLANNING time, so discovery IO is
    O(batch) whatever the index size. Factored out so the plan pin tests
    exactly what the upsert runs."""
    return (members.where(F.col("vspan").isin([int(s) for s in spans]))
            .join(ids, "vec_id")
            .select("cell"))


def upsert_ivf_index(spark, path: str, adds: DataFrame | None = None,
                     removes: DataFrame | None = None,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> list[int]:
    """Incremental maintenance of a ``write_ivf_index`` table — the ANN
    twin of the engine's incremental aggregate views: a CDC batch of new
    and deleted vectors rewrites ONLY the cell partitions it touches,
    never the whole index (at 100 TB a full rebuild per batch is the
    scale-killer; a batch touches at most ``n_cells`` directories).

    Semantics: one atomic-per-cell merge where removes win — the final
    membership is ``(current ∖ add_ids ∖ remove_ids) ∪ (adds ∖
    removes)``, so re-adding an id replaces its vector and a remove in
    the same batch deletes it. Assignment uses the centroids persisted
    in the index descriptor (``_ivf_meta.json``) — an upsert can never
    drift from the write-time geometry.

    Mechanics: adds are assigned scan-side; the affected-cell set is the
    union of (a) the adds' new cells, (b) the cells currently holding the
    add ids — re-adding an id whose updated embedding assigns to a
    DIFFERENT cell must rewrite the OLD cell too, else the stale row
    survives there as a duplicate vec_id — and (c) the cells currently
    holding removed ids — ALWAYS by probe, never by assigning a carried
    vector, which would miss the stored row whenever the carried image
    is stale (out-of-order CDC). (b) and (c) share ONE probe of the
    id-span-partitioned ``_vecmeta`` membership table (vec_id→cell,
    maintained in the same batch), directory-pruned to the changed ids'
    spans — O(batch) IO, never a scan of the index itself (the same
    O(changed)-discovery protocol as the lexical index's docmeta).
    Discovery stays two bounded collects — the batch ids' spans, then
    the membership cells — with the adds' new-cell collect overlapped on
    a scheduler thread (it needs neither), the same jobs-not-data budget
    as the lexical upsert: at a 1 s CDC cadence the upsert's cost is its
    fixed action count, so independent actions overlap. The membership
    spans commit AFTER the cells, so a torn batch leaves membership a
    SUPERSET of the real state and recovery re-discovers at worst a few
    already-clean cells. Only the affected cells' directories are
    replaced, leaving every untouched cell directory byte-identical.
    Returns the affected cell ids.

    Crash contract (``operators/staged.py``, shared by every index
    action): the merged final content of the affected cells AND their
    membership spans is STAGED (``_upsert_staging/{data,_vecmeta}``) and
    only then referenced by the intent manifest
    (``_ivf_upsert_pending.json`` — affected cells + vspans, removed
    after the commit), BEFORE any destructive mutation. A commit torn
    between one cell's delete and rename would otherwise drop its
    pre-batch rows, and a re-run reading the holed directory would make
    the loss silent and final; with the snapshot, the next IVF action's
    entry (upsert/split/merge/retrain) commits the torn batch from
    staging, and the operation stays IDEMPOTENT by construction: every
    term of ``(current ∖ add_ids ∖ removes) ∪ (adds ∖ removes)`` is
    insensitive to whether a cell already absorbed the batch (pinned by
    the partial-failure test in tests/test_ann_recall.py). Replica
    tables, which need readers isolated during rewrite, use the
    generation-manifest protocol instead (engine._overwrite_data). A
    torn SPLIT or MERGE is committed at entry too, before the batch
    applies: its membership maps moved vectors to their old cell, and
    an upsert trusting it could leave live rows the resumed geometry
    action would resurrect."""
    import os
    from functools import reduce

    from ..cache import transient_persist

    meta = read_ivf_meta(path)
    # a torn action is committed FIRST: its snapshot is the only
    # trustworthy image of the cells a torn commit may have holed, and
    # its descriptor fixes the geometry every read below relies on
    meta = staged.finish_torn(spark, path, _IVF) or meta
    cents, n_cells, dims = (meta["centroids"], meta["n_cells"],
                            meta["dims"])
    schemas = meta["schemas"]
    idx = fsutil.read_parquet_or_empty(spark, path, schemas.get("index"))
    members = fsutil.read_parquet_or_empty(
        spark, os.path.join(path, _IVF_MEMBERS), schemas.get("members"))
    meta_cols = list(meta.get("meta_cols", []))
    dead = [int(c) for c in meta.get("dead", [])]
    assigned = None
    probe_ids: list[DataFrame] = []     # ids whose CURRENT cells matter
    if adds is not None:
        missing = [c for c in meta_cols if c not in adds.columns]
        if missing:
            raise ValueError(
                f"upsert_ivf_index: index at {path} carries metadata "
                f"columns {meta_cols} but the adds frame lacks "
                f"{missing} — filtered probes would silently see NULL "
                f"metadata for these rows")
        assigned = ivf_assign(
            adds.select(F.col(id_col).alias("vec_id"),
                        F.col(vec_col).alias("embedding"),
                        *[F.col(c) for c in meta_cols]),
            "embedding", n_cells, dims, probes=1, centroids=cents,
            dead_cells=dead) \
            .withColumn("cell", F.element_at("cells", 1)).drop("cells")
        pqm = meta.get("pq")
        if pqm is not None:
            # the index carries PQ codes: re-encode the adds with the
            # DESCRIPTOR's codebooks (codes depend only on embedding +
            # books, so an upsert can never drift from the write-time
            # quantizer); normalization staged through the persisted
            # column — the pq_encode clone hazard
            assigned = transient_persist(assigned.withColumn(
                "__v", normalize_expr("embedding")))
            assigned = assigned.withColumn(
                "codes", pq_encode("__v", int(pqm["m"]),
                                   int(pqm["n_codes"]), dims,
                                   normalized=True,
                                   books=pqm["books"])).drop("__v")
        else:
            assigned = transient_persist(assigned)
        probe_ids.append(assigned.select("vec_id"))
    if removes is not None:
        # removes ALWAYS locate their cells by probing the index, even
        # when they carry a vector: assigning the carried vector would
        # silently miss the stored row whenever the carried image is
        # stale (out-of-order CDC, a producer emitting the pre-re-add
        # embedding) — the same stale-cell class the adds-side fix
        # closes. The probe shares the adds' single index scan.
        probe_ids.append(removes.select(F.col(id_col).alias("vec_id")))
    from concurrent.futures import ThreadPoolExecutor

    # -- discovery, overlapped (the lexical upsert's job-budget rule):
    # the adds' new-cell collect depends on neither the changed spans
    # nor the membership table, so it runs on a scheduler thread
    # (materializing the assignment cache once) beside the spans +
    # membership collects here. The id union skips a redundant distinct —
    # dup ids are harmless to anti-joins and the driver-side cell-set
    # dedup, and the distinct cost one more shuffle on the critical path.
    pool = ThreadPoolExecutor(max_workers=2)
    try:
        new_cells_f = None
        if assigned is not None:
            # materialize the assignment cache ONCE before the forked
            # consumers: the new-cell collect below and the main
            # thread's spans collect (whose ids union contains
            # assigned.select) would otherwise both first-touch an
            # unpopulated cache and each re-run the assignment
            # (stampede — caches have no concurrent-compute dedup)
            assigned.count()
            new_cells_f = pool.submit(
                lambda: {int(r.cell) for r in
                         assigned.select("cell").distinct().collect()})
        ids = None
        spans: list[int] = []
        cell_set: set[int] = set()
        if probe_ids:
            ids = transient_persist(
                reduce(DataFrame.unionByName, probe_ids))
            # changed ids' spans — collected FIRST (bounded by the batch)
            # so the membership read prunes directories at planning time
            spans = sorted({int(r.v) for r in ids.select(
                F.expr(f"vec_id div {_IVF_VSPAN}").alias("v"))
                .distinct().collect()})
            if spans:
                cell_set |= {int(r.cell) for r in _ivf_membership_cells(
                    members, ids, spans).distinct().collect()}
        if new_cells_f is not None:
            cell_set |= new_cells_f.result()
    except BaseException:
        pool.shutdown(wait=True, cancel_futures=True)
        raise
    cells = sorted(cell_set)
    if not cells:
        pool.shutdown(wait=True)
        return []
    # The membership MERGE is independent of the cell rewrite (it reads
    # the OLD spans + the batch's own persisted frames), so it stages on
    # a scheduler thread beside the cells; the commit order (membership
    # after cells, the superset-on-crash contract in the docstring) is
    # the manifest's. Plan CONSTRUCTION sits inside the try too: an
    # analysis error (an adds frame whose schema drifted) must release
    # the pool like any other failure.
    try:
        cur = idx.where(F.col("cell").isin(cells))
        if assigned is not None:
            cur = cur.join(assigned.select("vec_id"), "vec_id",
                           "left_anti")
        merged = cur
        if assigned is not None:
            merged = merged.unionByName(assigned)
        if removes is not None:
            merged = merged.join(
                removes.select(F.col(id_col).alias("vec_id")),
                "vec_id", "left_anti")
        staging = os.path.join(path, _IVF_UPSERT_STAGING)
        memb_f = None
        if spans:
            cur_m = (members.where(F.col("vspan").isin(spans))
                     .join(ids, "vec_id", "left_anti")
                     .select("vec_id",
                             F.col("cell").cast("int").alias("cell")))
            merged_m = cur_m
            if assigned is not None:
                new_m = assigned.select(
                    "vec_id", F.col("cell").cast("int").alias("cell"))
                if removes is not None:
                    new_m = new_m.join(
                        removes.select(F.col(id_col).alias("vec_id"))
                        .distinct(), "vec_id", "left_anti")
                merged_m = merged_m.unionByName(new_m)
            mm = merged_m.withColumn("vspan",
                                     F.expr(f"vec_id div {_IVF_VSPAN}"))
            # staged PARTITIONED: the snapshot is the torn-commit
            # recovery source AND the final bytes — the commit promotes
            # these directories by rename, so the batch's data is
            # written exactly once
            memb_f = pool.submit(
                lambda: fsutil.cluster_by_dir(mm, "vspan", "vec_id")
                .write.mode("overwrite").partitionBy("vspan")
                .parquet(os.path.join(staging, _IVF_MEMBERS)))

        (fsutil.cluster_by_dir(merged, "cell", "vec_id", len(cells))
         .write.mode("overwrite").partitionBy("cell")
         .parquet(os.path.join(staging, "data")))
        if memb_f is not None:
            memb_f.result()
    except BaseException:
        pool.shutdown(wait=True, cancel_futures=True)
        raise
    pool.shutdown(wait=True)

    # the live dir lists come from a driver-side listing of the staged
    # dirs — no probe jobs on the CDC hot path (jobs, not data, are the
    # 1 s cadence budget); cells, then membership, each with its
    # emptied-dir sweep; the descriptor is unchanged
    promote = [staged.entry(staging, "", "cell", cells, spark)]
    if spans:
        promote.append(staged.entry(staging, _IVF_MEMBERS, "vspan", spans,
                                    spark))
    staged.run(spark, path, _IVF, _IVF_PENDING, {
        "promote": promote, "descriptor": meta,
        "cells": cells, "vspans": spans})
    return cells


def _split_seed_centroids(cellrows: DataFrame, vec_col: str,
                          quant_scale: float = QUANT_SCALE
                          ) -> tuple[list[list[float]], float]:
    """Deterministic farthest-point seeds for the 2-means sub-codebook:
    seed 0 is the min-id member's vector, seed 1 the member maximizing
    exact quantized squared distance to it (ties to the lower id).
    Returns (seeds in float space, that max distance) — a zero distance
    means every member is identical and the split cannot rebalance."""
    q = cellrows.select("vec_id",
                        quantize_expr(vec_col, quant_scale).alias("q"))
    r0 = q.orderBy("vec_id").first()
    s0q = [int(x) for x in r0.q]
    d = F.element_at(_sq_dists_quant(F.col("q"), [s0q]), 1)
    r1 = (q.withColumn("d", d)
          .orderBy(F.col("d").desc(), "vec_id").first())
    s1q = [int(x) for x in r1.q]
    return ([[x / quant_scale for x in s0q],
             [x / quant_scale for x in s1q]], float(r1.d))


def split_ivf_cell(spark, path: str, cell: int | None = None,
                   iters: int = 2,
                   sample_fraction: float | None = None) -> tuple[int, int]:
    """Split one overgrown IVF cell IN PLACE — the index-health ACTION
    behind ``ann_ivf_index_stats``: under CDC traffic cells drift hot
    (every new vector near a popular region lands in the same
    directory), and a hot cell makes every probe that touches it scan
    its whole membership. The fix is the standard local split: train a
    deterministic 2-means sub-codebook on the cell's members
    (``train_ivf_centroids`` — exact quantized Lloyd, so the whole
    operation stays SQL-oracle-expressible), reassign ONLY those members
    between the two sub-centroids, and rewrite exactly two cell
    directories; every other cell stays byte-identical (pinned). The
    descriptor's centroid list grows by one (sub0 replaces the split
    cell's centroid, sub1 becomes cell ``n_cells+1``), so later probes
    and upserts see the finer geometry. Splitting is LOCAL, as in FAISS:
    other cells' assignments are not revisited against the new
    centroid, so membership — not global nearest-centroid consistency —
    defines probe candidates (which is already ``ivf_index_topk``'s
    contract).

    Cost model: choosing the hottest cell reads the 2-int membership
    table only; training + reassignment read the one cell directory
    (partition-pruned); the membership rewrite touches the cell's ids'
    vspans. Everything is O(cell), never O(index) — at 100 TB you
    ``sample_fraction`` the training scan and the rest is unchanged.

    Crash contract (``operators/staged.py``): the re-split rows AND
    their merged membership spans are STAGED
    (``_split_staging/{data,_vecmeta}``) with the new descriptor (the
    TRAINED sub-codebook in its centroid list) computed, and only then
    does the intent manifest (``_ivf_split_pending.json``) exist.
    Re-running ``split_ivf_cell`` with no arguments, or any other IVF
    action, commits a torn split from the manifest — never by
    re-training over cell directories a torn commit may have holed.
    Data commits before the descriptor: a crash in between leaves moved
    vectors invisible to probes (bounded recall loss, never wrong
    results) until that commit. Returns ``(split_cell, new_cell)``."""
    import os

    meta = read_ivf_meta(path)
    pending = staged.pending(path, _IVF_SPLIT_PENDING, spark)
    if pending is not None and cell is not None \
            and cell != int(pending["cell"]):
        raise ValueError(
            f"split_ivf_cell: unfinished split of cell "
            f"{pending['cell']} pending at {path} — resume it "
            f"(cell=None) before splitting another")
    # a torn action (this split's own included) commits before any cell
    # directory is read
    meta = staged.finish_torn(spark, path, _IVF) or meta
    if pending is not None:
        return int(pending["cell"]), int(pending["new_cell"])
    cents, n_cells, dims = (meta["centroids"], meta["n_cells"],
                            meta["dims"])
    members_path = os.path.join(path, _IVF_MEMBERS)
    schemas = meta["schemas"]
    if cell is None:
        members = fsutil.read_parquet_or_empty(
            spark, members_path, schemas.get("members"))
        top = (members.groupBy("cell")
               .agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.col("n").desc(), F.col("cell")).first())
        if top is None:
            # an empty index has no hottest cell — a clean error, not an
            # AttributeError off the None row
            raise ValueError(
                f"split_ivf_cell: membership table at {members_path} "
                f"has no rows — an empty index has nothing to split")
        cell = int(top.cell)
    elif not 1 <= cell <= n_cells:
        # validated BEFORE the pending manifest exists — a bogus id must
        # not wedge the split machinery behind a manifest whose resume
        # crashes at the same bad id forever
        raise ValueError(
            f"split_ivf_cell: cell {cell} not in [1, {n_cells}]")
    elif cell in {int(c) for c in meta.get("dead", [])}:
        raise ValueError(
            f"split_ivf_cell: cell {cell} was merged away and is "
            f"not a live cell of the index at {path}")
    new_cell = n_cells + 1

    staging = os.path.join(path, _IVF_SPLIT_STAGING)
    idx = fsutil.read_parquet_or_empty(spark, path, schemas.get("index"))
    # no manifest ⇒ every prior action fully committed ⇒ vec_id unique
    # across cells, so the split input needs no dedup
    cellrows = idx.where(F.col("cell").isin([cell, new_cell]))
    if cellrows.isEmpty():
        raise UnsplittablePartition(
            f"split_ivf_cell: cell {cell} holds no vectors — "
            f"splitting it would replace its centroid with the "
            f"untrained init")
    # Farthest-point seeding FROM THE CELL'S OWN MEMBERS: a fixed
    # pseudo-random init near the origin assigns every member of a hot
    # cell whose mass lies far out to one sub-centroid, and the "split"
    # degenerates into a cell rename — no rebalance, and a load-factor
    # policy would re-split the same mass every poll. Seeds: the min-id
    # member, then the member farthest from it (exact quantized
    # distances, ties to the lower id) — deterministic, and still two
    # SQL rows, so the split oracle follows. O(cell) like the trainer.
    seeds, max_d = _split_seed_centroids(cellrows, "embedding")
    if max_d == 0.0:
        raise UnsplittablePartition(
            f"split_ivf_cell: every member of cell {cell} is "
            f"identical — a split cannot rebalance it")
    sub = train_ivf_centroids(
        cellrows, "embedding", 2, dims, iters=iters,
        sample_fraction=sample_fraction,
        id_col="vec_id" if sample_fraction is not None else None,
        salt="ivf-split", init_centroids=seeds)

    d = _sq_dists(_as_double(F.col("embedding")), sub)
    reassigned = cellrows.withColumn(
        "cell",
        F.when(F.array_position(d, F.array_min(d)) == 1, F.lit(cell))
         .otherwise(F.lit(new_cell)))
    # staged PARTITIONED: the commit promotes the directories by rename,
    # so the split's data is written exactly once
    (fsutil.cluster_by_dir(reassigned, "cell", "vec_id", 2)
     .write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(staging, "data")))
    # schema-pinned read-back (staged == live schema by the rename
    # promotion contract) — no inference job
    reassigned = fsutil.read_parquet_or_empty(
        spark, os.path.join(staging, "data"), schemas.get("index"))
    cents2 = [list(c) for c in cents]
    cents2[cell - 1] = [float(x) for x in sub[0]]
    cents2.append([float(x) for x in sub[1]])
    # every other descriptor field (schemas, future keys) carries over;
    # geometry_actions is the chain accounting the retrain escalation
    # reads — every geometry action drifts the codebook a little
    staged.run(spark, path, _IVF, _IVF_SPLIT_PENDING, {
        "promote": _stage_moved_members(spark, path, schemas, staging,
                                        reassigned, [cell, new_cell]),
        "descriptor": dict(
            meta, n_cells=len(cents2), centroids=cents2,
            geometry_actions=int(meta.get("geometry_actions", 0)) + 1),
        "cell": cell, "new_cell": new_cell,
        "sub": [[float(x) for x in c] for c in sub]})
    return cell, new_cell


def _stage_moved_members(spark, path: str, schemas: dict, staging: str,
                         moved: DataFrame, cells: list[int]) -> list[dict]:
    """Stage the membership spans holding the ``moved`` (staged) rows of
    a split or merge, with those ids mapped to their new cells, and
    return the action's ``promote`` list: the two cells (either may have
    emptied), then the spans — never emptied, so no span sweep."""
    import os

    spans = sorted({int(r.v) for r in moved.select(
        F.expr(f"vec_id div {_IVF_VSPAN}").alias("v"))
        .distinct().collect()})
    promote = [staged.entry(staging, "", "cell", cells, spark)]
    if not spans:
        return promote
    final_m = moved.select("vec_id", F.col("cell").cast("int").alias("cell"))
    members = fsutil.read_parquet_or_empty(
        spark, os.path.join(path, _IVF_MEMBERS), schemas.get("members"))
    (fsutil.cluster_by_dir(
        members.where(F.col("vspan").isin(spans))
        .join(final_m.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .unionByName(final_m)
        .withColumn("vspan", F.expr(f"vec_id div {_IVF_VSPAN}")),
        "vspan", "vec_id")
     .write.mode("overwrite").partitionBy("vspan")
     .parquet(os.path.join(staging, _IVF_MEMBERS)))
    return promote + [staged.entry(staging, _IVF_MEMBERS, "vspan", (),
                                   spark)]


def merge_ivf_cells(spark, path: str, src: int | None = None,
                    dst: int | None = None) -> tuple[int, int]:
    """Merge one sparse IVF cell into another IN PLACE — the inverse of
    ``split_ivf_cell`` and the shrink half of the load-factor policy:
    without it, after a delete-heavy CDC window the splits can only
    fragment further — emptied cells drop out, but half-empty ones
    accumulate, wasting probe slots and directory listings until a full
    rebuild. The merge moves ``src``'s rows wholesale into ``dst`` and
    marks ``src`` DEAD in the descriptor; dead cells keep their
    centroid slot (deleting it would renumber every higher cell id — an
    O(index) rewrite) but are masked to +inf in every later assignment
    (``_sq_dists``), so upserts never route vectors there and probes
    never spend a slot on them.

    Merging is LOCAL, like the split: ``dst``'s centroid is unchanged
    and no other cell's assignment is revisited — membership, not
    global nearest-centroid consistency, defines probe candidates
    (``ivf_index_topk``'s standing contract). Choosing cells is by the
    2-int membership table only; the data move reads exactly two cell
    directories — O(cells merged), never O(index).

    With no arguments, merges the two COLDEST live cells (fewest rows,
    ties to the lower id): the fuller one becomes ``dst`` (fewer rows
    move). Refuses to drop the live-cell count below 2 — a 1-cell index
    degenerates every probe into a full scan.

    Crash contract (``operators/staged.py``, as the split): the merged
    dst content AND its membership spans are STAGED
    (``_merge_staging/{data,_vecmeta}``) with the new descriptor
    computed, and only then does the intent manifest
    (``_ivf_merge_pending.json``) exist; data first (dst promoted, src
    deleted), membership next, descriptor last. A torn merge can leave a
    moved vector visible in BOTH directories (the rows are identical —
    only the cell changes), a bounded probe anomaly until the next IVF
    action commits the manifest; ``upsert_ivf_index`` does so before
    applying a batch — a torn merge's membership still maps moved ids
    to the deleted src directory, and an upsert trusting it would
    rewrite the wrong cell. Returns ``(src, dst)``."""
    import os

    meta = read_ivf_meta(path)
    pending = staged.pending(path, _IVF_MERGE_PENDING, spark)
    if pending is not None and src is not None \
            and src != int(pending["src"]):
        raise ValueError(
            f"merge_ivf_cells: unfinished merge of cell "
            f"{pending['src']} pending at {path} — resume it "
            f"(src=None) before merging another")
    # a torn action (this merge's own included) commits before any cell
    # directory is read
    meta = staged.finish_torn(spark, path, _IVF) or meta
    if pending is not None:
        return int(pending["src"]), int(pending["dst"])
    n_cells = int(meta["n_cells"])
    dead = {int(c) for c in meta.get("dead", [])}
    schemas = meta["schemas"]
    live = sorted(set(range(1, n_cells + 1)) - dead)
    if len(live) <= 2:
        raise UnsplittablePartition(
            f"merge_ivf_cells: index at {path} has {len(live)} live "
            f"cells — merging would leave fewer than 2")
    if src is None:
        counts = {c: 0 for c in live}
        for r in (fsutil.read_parquet_or_empty(
                spark, os.path.join(path, _IVF_MEMBERS),
                schemas.get("members"))
                .groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
                .collect()):         # bounded: one row per cell
            if int(r.cell) in counts:
                counts[int(r.cell)] = int(r.n)
        a, b = sorted(live, key=lambda c: (counts[c], c))[:2]
        # the fuller of the two keeps its directory; ties → the lower id
        # survives
        if (counts[a], -a) >= (counts[b], -b):
            src, dst = b, a
        else:
            src, dst = a, b
    else:
        if dst is None:
            raise ValueError("merge_ivf_cells: src given without dst")
        for name, c in (("src", src), ("dst", dst)):
            if not 1 <= c <= n_cells or c in dead:
                raise ValueError(
                    f"merge_ivf_cells: {name} cell {c} is not a "
                    f"live cell of the index at {path}")
        if src == dst:
            raise ValueError("merge_ivf_cells: src == dst")

    staging = os.path.join(path, _IVF_MERGE_STAGING)
    # union of both directories: no manifest ⇒ every prior action fully
    # committed ⇒ vec_id unique across cells, no dedup
    merged = (fsutil.read_parquet_or_empty(
                  spark, path, schemas.get("index"))
              .where(F.col("cell").isin([src, dst]))
              .withColumn("cell", F.lit(dst)))
    # staged PARTITIONED so the commit promotes by rename (ONE
    # evaluation of the union plan and one write of the merged data,
    # total). Both cells empty (a delete wave swept them) falls out of
    # the staged listing: no cell directory written ⇒ descriptor-only
    # merge.
    (fsutil.cluster_by_dir(merged, "cell", "vec_id", 2)
     .write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(staging, "data")))
    promote = [staged.entry(staging, "", "cell", [src, dst], spark)]
    if promote[0]["live"]:
        promote = _stage_moved_members(
            spark, path, schemas, staging,
            fsutil.read_parquet_or_empty(
                spark, os.path.join(staging, "data"),
                schemas.get("index")),
            [src, dst])
    staged.run(spark, path, _IVF, _IVF_MERGE_PENDING, {
        "promote": promote,
        "descriptor": dict(
            meta, dead=sorted(dead | {src}),
            geometry_actions=int(meta.get("geometry_actions", 0)) + 1),
        "src": src, "dst": dst})
    return src, dst


def retrain_ivf_index(spark, path: str, iters: int = 2,
                      sample_fraction: float | None = None,
                      salt: str = "ivf-retrain",
                      force: bool = False,
                      n_cells: int | None = None,
                      train_pq: bool = False) -> int | None:
    """Full codebook retrain — the escalation ABOVE split/merge and the
    index's OPTIMIZE FINAL analog (reference db_optimizer.py:71–80: the
    periodic full compaction behind the incremental actions). A long
    split/merge chain degrades centroid quality monotonically: splits
    seed LOCAL 2-means sub-codebooks (good for the split cell, blind to
    the rest), merges leave DEAD centroid slots that waste a distance
    term in every assignment — nothing in the one-action-per-poll policy
    ever revisits the global geometry. The retrain rebuilds it: train a
    fresh ``n_live``-cell codebook over the index's CURRENT corpus
    (``train_ivf_centroids`` — exact quantized Lloyd, so the whole
    operation stays SQL-oracle-expressible), re-assign every vector,
    compact the dead slots away, and reset the chain counter.

    This is deliberately O(index) — the point is a bounded periodic full
    pass that caps how far the incremental actions can drift, exactly
    like OPTIMIZE FINAL vs per-batch merges. At 100 TB you
    ``sample_fraction`` the TRAINING scan (the standard practice — FAISS
    trains on a sample); the re-assignment pass is one scan + one
    partitioned write, the same cost as the initial build.

    No-op guard: with no dead slots and an empty action chain
    (``geometry_actions == 0``) the geometry has not drifted and the
    retrain returns None WITHOUT touching the index — probes before and
    after are byte-identical (``force=True`` overrides, for an explicit
    operator-initiated rebuild).

    ``n_cells`` — explicit target geometry: a corpus that GREW since
    the build wants MORE cells than it started with (splits patch hot
    spots but the base stays undersized), a shrunken one fewer; the
    default keeps the live count. An explicit target implies intent, so
    it retrains even an undrifted index (the no-op guard applies to the
    default only).

    ``train_pq`` — retrain the FINE quantization layer too: on a
    PQ-carrying index, train fresh per-subspace codebooks over the
    current corpus (``train_pq_codebooks`` — same exact quantized
    Lloyd, same ``sample_fraction``) and re-encode every row's codes
    during the re-assignment pass, committing the new books into the
    descriptor's ``pq`` block. The corpus distribution drifts away from
    the build-time books exactly like it drifts from the build-time
    centroids — this is the OPTIMIZE FINAL for both layers in the one
    O(index) pass that already touches every row. The trained books
    ride the intent manifest beside the centroids, so a resume
    re-encodes with the books the torn run trained (and the staged
    snapshot already holds the re-encoded codes — a resume rewrites,
    never re-trains). Ignored (with the layer untouched) on an index
    without a ``pq`` block; like ``n_cells``, an explicit
    ``train_pq=True`` implies intent and overrides the no-op guard.

    Crash contract (``operators/staged.py``): the re-assigned snapshot
    is STAGED (``_retrain_staging/{data,_vecmeta}``, complete
    re-assigned rows and their membership, partitioned) with the new
    descriptor computed, and only then does the intent manifest
    (``_ivf_retrain_pending.json`` — trained centroids and books)
    exist. Data first (cell promotion + stale-directory deletes),
    membership next, descriptor last. A crash between data and
    descriptor leaves probes on the OLD geometry over partially moved
    rows — bounded recall loss, never wrong results (membership, not
    global consistency, defines candidates — ``ivf_index_topk``'s
    standing contract) — until the next IVF action (or this call with
    no target) commits the manifest, which writes the same descriptor:
    ``retrains`` counts the retrain once. An orphaned staging dir
    (crash between manifest delete and staging delete) is inert — the
    next retrain overwrites it, the no-op reaps it. Returns the new
    live-cell count, or None for the no-op."""
    import os

    meta = read_ivf_meta(path)
    pending = staged.pending(path, _IVF_RETRAIN_PENDING, spark)
    if pending is not None and n_cells is not None \
            and int(n_cells) != len(pending["centroids"]):
        raise ValueError(
            f"retrain_ivf_index: unfinished retrain to "
            f"{len(pending['centroids'])} cells pending at {path} — "
            f"resume it (n_cells=None) before retraining to another "
            f"target")
    # a torn action commits first: the training scan reads every cell
    # directory, which a torn commit may have holed
    meta = staged.finish_torn(spark, path, _IVF) or meta
    if pending is not None:
        return len(pending["centroids"])
    cur_cells, dims = int(meta["n_cells"]), int(meta["dims"])
    dead = {int(c) for c in meta.get("dead", [])}
    chain = int(meta.get("geometry_actions", 0))
    pqm = meta.get("pq")
    train_pq = bool(train_pq and pqm is not None)
    staging = os.path.join(path, _IVF_RETRAIN_STAGING)
    if not force and not dead and chain == 0 and n_cells is None \
            and not train_pq:
        # geometry never drifted: no-op — but reap orphaned staging
        # snapshots first (a crash between the manifest delete and the
        # staging delete leaves a dir no healthy index would otherwise
        # ever revisit — full-index-size for the retrain's own; the
        # rebuild is the natural GC point because it is already a full
        # pass, and the torn manifest, if any, was committed above, so
        # nothing references these dirs)
        for d in _IVF.actions.values():
            fsutil.delete(os.path.join(path, d), spark=spark)
        return None
    # every cell directory: no manifest ⇒ every prior action fully
    # committed ⇒ vec_id unique across cells, so no dedup
    rows = fsutil.read_parquet_or_empty(
        spark, path, meta["schemas"].get("index"))
    if n_cells is not None:
        if int(n_cells) < 1:
            raise ValueError("retrain_ivf_index: n_cells must be >= 1")
        k = int(n_cells)
    else:
        k = cur_cells - len(dead)
    if k < 1:
        raise ValueError(
            f"retrain_ivf_index: index at {path} has no live cells")
    if rows.isEmpty():
        raise ValueError(
            f"retrain_ivf_index: index at {path} holds no "
            f"vectors — nothing to train on")
    cents_new = train_ivf_centroids(
        rows, "embedding", k, dims, iters=iters,
        sample_fraction=sample_fraction,
        id_col="vec_id" if sample_fraction is not None else None,
        salt=salt)
    books_new = None
    if train_pq:
        books_new = train_pq_codebooks(
            rows, m=int(pqm["m"]), n_codes=int(pqm["n_codes"]),
            vec_col="embedding", dims=dims, iters=iters,
            sample_fraction=sample_fraction,
            salt=f"{salt}|pq")
    reassigned = (ivf_assign(rows.drop("cell"), "embedding", k, dims,
                             probes=1, centroids=cents_new)
                  .withColumn("cell", F.element_at("cells", 1))
                  .drop("cells"))
    if books_new is not None:
        # re-encode the fine layer with the freshly trained books in the
        # same pass (normalization staged through a persisted column —
        # the pq_encode clone hazard)
        reassigned = transient_persist(
            reassigned.drop("codes")
            .withColumn("__v", normalize_expr("embedding")))
        reassigned = reassigned.withColumn(
            "codes", pq_encode("__v", int(pqm["m"]),
                               int(pqm["n_codes"]), dims,
                               normalized=True,
                               books=books_new)).drop("__v")
    (fsutil.cluster_by_dir(
        reassigned.select(*rows.columns),  # keep stored column order
        "cell", "vec_id", k)
     .write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(staging, "data")))
    # the membership table is staged beside the data (2-int rows,
    # derived from the staged files) so the commit is pure directory
    # promotion for BOTH tables — at 100 TB the re-assignment pass
    # writes the index exactly once and the destructive phase touches
    # only filesystem metadata
    (fsutil.cluster_by_dir(
        fsutil.read_parquet_or_empty(
            spark, os.path.join(staging, "data"),
            meta["schemas"].get("index"))
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .withColumn("vspan", F.expr(f"vec_id div {_IVF_VSPAN}")),
        "vspan", "vec_id")
     .write.mode("overwrite").partitionBy("vspan")
     .parquet(os.path.join(staging, _IVF_MEMBERS)))
    # compact: every pre-retrain directory not promoted disappears —
    # dead slots' dirs (already gone), renumbered tails, emptied cells;
    # ids unchanged → same span set, no span deletes
    descriptor = dict(meta, n_cells=k, centroids=cents_new, dead=[],
                      geometry_actions=0,
                      retrains=int(meta.get("retrains", 0)) + 1)
    doc = {"centroids": cents_new}
    if books_new is not None:
        descriptor["pq"] = dict(pqm, books=books_new)
        doc["pq_books"] = books_new
    staged.run(spark, path, _IVF, _IVF_RETRAIN_PENDING, dict(doc, promote=[
        staged.entry(staging, "", "cell", range(1, max(cur_cells, k) + 1),
                     spark),
        staged.entry(staging, _IVF_MEMBERS, "vspan", (), spark)],
        descriptor=descriptor))
    return k


def read_ivf_meta(path: str) -> dict:
    """The persisted IVF index descriptor, after
    ``staged.read_descriptor`` checked the index against the one layout
    today's writers produce (descriptor with ``schemas``, a
    ``_vecmeta/`` membership table, staged pending manifests). Any
    other index raises a ValueError naming the rebuild call."""
    return staged.read_descriptor(path, _IVF, ("schemas",), _IVF_MEMBERS,
                                  "write_ivf_index")


def ivf_index_topk(spark, path: str, queries: DataFrame, k: int,
                   n_cells: int | None = None, probes: int = 2,
                   dims: int | None = None,
                   query_id_col: str = "query_id",
                   vec_col: str = "embedding",
                   centroids: list[list[float]] | None = None,
                   filter_cols: list[str] | None = None,
                   min_results: int | None = None,
                   pq_shortlist: int | None = None) -> DataFrame:
    """Probe a ``write_ivf_index`` table: compute each query's ``probes``
    nearest cells, scan ONLY those partitions (an IN-filter on the
    partition column → PartitionFilters in the parquet scan, zero IO for
    every other cell), then exact cosine top-k within the probed subset.
    Same ranking contract as ``ivf_topk`` (rounded-score window,
    neighbor-id tie-break).

    Probe geometry comes from the index's own ``_ivf_meta.json`` when
    ``centroids`` is None — a probe can never silently use centroids
    other than the ones that built the assignment; passing centroids
    (or n_cells/dims) that contradict the persisted descriptor raises
    instead of returning wrong-cell results. Cells the
    descriptor lists as ``dead`` (merged away) are masked to +inf in
    the query assignment, so probe slots are never spent on empty
    directories.

    ``filter_cols`` — FILTERED vector search, the default production
    RAG probe ("nearest neighbors WHERE lang = :query's lang"): each
    named column must be carried in the index rows (``write_ivf_index
    (meta_cols=...)``) and present on the queries frame; candidates
    must EQUAL the query's value on every one. The equality sits inside
    the broadcast join condition, before any cosine — the same
    completeness-correct pre-filter design as ``brute_force_topk``
    (similarity.py:61-96), never a post-filter of an unfiltered top-k.
    RECALL CONTRACT: the filter applies within the ``probes`` probed
    cells only. A highly selective predicate thins each probed cell, so
    fewer than k survivors may return; widen ``probes`` for selective
    filters (the standard IVF dial — exactly how FAISS/Qdrant document
    filtered search). Exactness WITHIN the probed cells is unchanged.

    ``min_results`` — AUTO-widening: without it a
    too-narrow probe under-returns SILENTLY and the caller cannot tell
    "corpus has < k matches" from "probe too narrow". With it, queries
    that return fewer than ``min_results`` rows are re-probed with the
    probe count DOUBLED (satisfied queries keep their original ranking
    — exactness within probed cells makes the narrow answer a correct
    answer), repeating until every query is satisfied or the probe
    count reaches the live-cell count — at which point the whole index
    was scanned for the still-short queries, so a short result now
    MEANS the corpus has that few matches. Each widened pass is the
    same partition-pruned probe over just the under-returning queries;
    cost is O(log2(live cells)) probe rounds worst-case, each a bounded
    per-query row count collect (queries are broadcast-small by
    contract).

    ``pq_shortlist`` — the ADC probe over a PQ-carrying index
    (``write_ivf_index(pq=...)``): the candidate stage
    scans the probed cells' ``codes`` column ONLY (m small ints — 16×
    narrower than raw floats at the defaults, which at 100 TB is the
    candidate-stage IO), scores each candidate against the query's
    broadcast ADC distance table (m array lookups + m−1 adds), keeps
    the ``pq_shortlist`` best per query, and re-ranks ONLY those rows
    by exact cosine over raw vectors (a broadcast-shortlist join into
    the same partition-pruned scan). With an unbounded shortlist the
    result EQUALS the raw probe at the same geometry (the ADC stage
    then only reorders a superset the exact rerank restores) and the
    whole path equals the in-memory ``ivf_pq_topk`` composition at the
    same (centroids, probes, m, n_codes, shortlist) — both pinned.
    ``filter_cols`` apply in the ADC join condition, BEFORE the
    shortlist, so a selective predicate never starves the rerank;
    ``min_results`` widens probes around the whole two-stage pass.
    Raises on an index without a ``pq`` block (codes are a build-time
    layout choice — rebuild or retrain into one)."""
    meta = read_ivf_meta(path)
    if centroids is not None and \
            [[float(x) for x in c] for c in centroids] \
            != meta["centroids"]:
        raise ValueError(
            f"ivf_index_topk: supplied centroids differ from the ones "
            f"persisted with the index at {path}; probing with them "
            f"would search the wrong cells")
    for name, given, stored in (("n_cells", n_cells, meta["n_cells"]),
                                ("dims", dims, meta["dims"])):
        if given is not None and given != stored:
            raise ValueError(
                f"ivf_index_topk: {name}={given} contradicts the "
                f"index descriptor ({name}={stored}) at {path}")
    centroids = meta["centroids"]
    n_cells, dims = meta["n_cells"], meta["dims"]
    filter_cols = list(filter_cols or [])
    carried = meta.get("meta_cols", [])
    missing = [c for c in filter_cols if c not in carried]
    if missing:
        raise ValueError(
            f"ivf_index_topk: filter_cols {missing} are not carried in "
            f"the index at {path} (meta_cols={carried}) — rebuild with "
            f"write_ivf_index(meta_cols=...) to filter on them")
    dead = [int(c) for c in meta.get("dead", [])]
    live_count = n_cells - len(dead)
    pqm = meta.get("pq")
    if pq_shortlist is not None and pqm is None:
        raise ValueError(
            f"ivf_index_topk: pq_shortlist requires an index that "
            f"carries PQ codes, but the descriptor at {path} has no "
            f"'pq' block — rebuild with write_ivf_index(pq=...)")
    if pq_shortlist is not None and int(pq_shortlist) < k:
        # a shortlist below k silently caps every query at shortlist
        # rows — and with min_results it turns the widen loop into
        # log2(cells) futile full-coverage passes whose short result the
        # docstring tells the caller to read as "the corpus is short"
        raise ValueError(
            f"ivf_index_topk: pq_shortlist={pq_shortlist} < k={k} — the "
            f"rerank can never return k rows; raise the shortlist (it "
            f"is the recall dial, k the result size)")
    qframe = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        *[F.col(c).alias(f"__q_{c}") for c in filter_cols])
    if pq_shortlist is not None:
        # each query's ADC table, computed once and broadcast with the
        # probe rows (normalization inline under the persist — the
        # ivf_pq_topk idiom)
        qframe = transient_persist(qframe.withColumn(
            "dt", pq_distance_table(
                normalize_expr("qv"), int(pqm["m"]), int(pqm["n_codes"]),
                dims, normalized=True, books=pqm["books"])))

    def _probe(qf: DataFrame, p: int) -> DataFrame:
        q = ivf_assign(qf, "qv", n_cells, dims, probes=p,
                       centroids=centroids, dead_cells=dead)
        # array_distinct is defense in depth behind ivf_assign's
        # live-count probe clamp: a duplicated probe cell
        # would score the same neighbor twice and hand it two of the k
        # ranks
        qcells = q.select(
            "query_id", "qv",
            *(["dt"] if pq_shortlist is not None else []),
            F.explode(F.array_distinct("cells")).alias("cell"),
            *[f"__q_{c}" for c in filter_cols])
        probe_cells = sorted({r.cell for r in
                              qcells.select("cell").distinct().collect()})
        index = fsutil.read_parquet_or_empty(
            spark, path, meta["schemas"].get("index")) \
            .where(F.col("cell").isin(probe_cells))
        cond = F.col("vec_id") != F.col("query_id")
        for c in filter_cols:
            # inside the join condition → dropped BEFORE any cosine;
            # the probed-cell partition pruning above is untouched
            # (plan pin)
            cond = cond & (F.col(c) == F.col(f"__q_{c}"))
        w = Window.partitionBy("query_id") \
            .orderBy(F.col("cos").desc(), F.col("vec_id"))
        if pq_shortlist is None:
            scored = (index.join(F.broadcast(qcells), ["cell"])
                      .where(cond)
                      .withColumn("cos",
                                  F.round(cosine_expr("qv", "embedding"),
                                          6)))
            return (scored.withColumn("rank", F.row_number().over(w))
                    .where(F.col("rank") <= k)
                    .select("query_id",
                            F.col("vec_id").alias("neighbor_id"),
                            "rank", "cos"))
        # ADC stage: the probed cells scanned as codes only — the
        # explicit select is what keeps 'embedding' out of this scan's
        # ReadSchema (plan pin: the candidate stage reads m ints per
        # row, not dims floats)
        m = int(pqm["m"])
        codes_scan = index.select("cell", "vec_id", "codes",
                                  *filter_cols)
        joined = codes_scan.join(F.broadcast(qcells.drop("qv")),
                                 ["cell"]).where(cond)
        score = _adc_score(m)
        w1 = Window.partitionBy("query_id") \
            .orderBy(F.col("adc"), F.col("vec_id"))
        cands = transient_persist(
            joined.withColumn("adc", score)
            .withColumn("__r", F.row_number().over(w1))
            .where(F.col("__r") <= int(pq_shortlist))
            .select("query_id", "vec_id"))
        # exact rerank: raw vectors for the shortlisted ids only. The
        # broadcast join alone would still READ the probed cells' whole
        # embedding column (a hash join pushes no point lookups into
        # parquet) — 16× the ADC stage's IO, eroding the layout's win —
        # so the shortlist ids are also pushed as an IN-filter into the
        # scan (PushedFilters → row-group min/max pruning; plan pin).
        # The id set is bounded by contract (queries broadcast-small ×
        # shortlist); a degenerate oversized shortlist falls back to a
        # min/max RANGE pushdown instead of a megaliteral IN: a 100k-
        # element IN literal has real analyzer/codegen cost before the
        # scan even starts, while the range predicate
        # is two comparisons that still prune row groups whose id
        # min/max miss the shortlist span entirely.
        emb_scan = index.select("vec_id", "embedding")
        ids = [r.vec_id for r in cands.select("vec_id")
               .distinct().limit(10_001).collect()]
        if len(ids) <= 10_000:
            emb_scan = emb_scan.where(F.col("vec_id").isin(ids))
        elif ids:
            bounds = cands.agg(F.min("vec_id").alias("lo"),
                               F.max("vec_id").alias("hi")).collect()[0]
            emb_scan = emb_scan.where(
                (F.col("vec_id") >= int(bounds.lo))
                & (F.col("vec_id") <= int(bounds.hi)))
        rer = (emb_scan
               .join(F.broadcast(cands), "vec_id")
               .join(F.broadcast(qf.select("query_id", "qv")),
                     "query_id")
               .withColumn("cos",
                           F.round(cosine_expr("qv", "embedding"), 6)))
        return (rer.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", F.col("vec_id").alias("neighbor_id"),
                        "rank", "cos"))

    res = _probe(qframe, probes)
    if min_results is None:
        return res
    want = min(int(min_results), k)
    all_ids = [r.query_id for r in
               qframe.select("query_id").distinct().collect()]
    p = max(1, min(probes, live_count))
    # each round's counts collect (and the caller's final action) runs
    # against the persisted round result, not the whole widening
    # lineage — without this every round re-executes every PRIOR probe
    # pass's partition scan + broadcast join + window
    res = transient_persist(res)
    while p < live_count:
        counts = {r.query_id: r.n for r in
                  res.groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        under = [i for i in all_ids if counts.get(i, 0) < want]
        if not under:
            break
        p = min(2 * p, live_count)
        widened = _probe(qframe.where(F.col("query_id").isin(under)), p)
        res = transient_persist(
            res.where(~F.col("query_id").isin(under))
            .unionByName(widened))
    return res


def matryoshka_recall(corpus: DataFrame, queries: DataFrame, k: int = 10,
                      prefix_dims: int = 16,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      query_id_col: str = "query_id") -> DataFrame:
    """Matryoshka-embedding evaluation (Kusupati et al. 2022): how much of
    the full-dimensional exact top-k survives when vectors are truncated
    to their first ``prefix_dims`` components — the measurement behind
    serving embeddings at a fraction of their trained width (a 4x dim
    cut is a 4x scan-cost cut for every ANN query downstream).

    Both rankings are exact ``brute_force_topk`` contracts (rounded
    cosine, id tie-break) — the truncated side just slices the array
    scan-side, so the whole evaluation is two corpus scans + one
    per-query overlap join of two <= k-row frames. Returns
    (query_id, n_overlap, recall6) with recall6 = 1e6*overlap div k."""
    full = brute_force_topk(corpus, queries, k, vec_col=vec_col,
                            id_col=id_col, query_id_col=query_id_col)
    cut = F.slice(F.col(vec_col), 1, prefix_dims)
    c16 = corpus.select(F.col(id_col), cut.alias(vec_col))
    q16 = queries.select(F.col(query_id_col), cut.alias(vec_col))
    trunc = brute_force_topk(c16, q16, k, vec_col=vec_col,
                             id_col=id_col, query_id_col=query_id_col)
    hits = (full.select("query_id", "neighbor_id")
            .join(F.broadcast(trunc.select("query_id", "neighbor_id")),
                  ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap")))
    return (full.select("query_id").distinct()
            .join(F.broadcast(hits), "query_id", "left")
            .select("query_id",
                    F.coalesce("n_overlap", F.lit(0)).cast("long")
                     .alias("n_overlap"))
            .withColumn("recall6",
                        F.expr(f"1000000 * n_overlap div {k}")))


RRF_K = 60              # the standard reciprocal-rank-fusion constant
RRF_SCALE = 1_000_000   # integer scale: contribution = SCALE div (K + rank)


def hybrid_rrf_search(docs: DataFrame, embeddings: DataFrame,
                      query_terms: list[str], query_vec_id: int,
                      k: int = 20, per_list: int = 50,
                      text_col: str = "text", doc_id_col: str = "doc_id",
                      vec_col: str = "embedding",
                      vec_id_col: str = "vec_id") -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al. 2009)
    — the standard fusion of a lexical ranking and a vector ranking
    (every production RAG stack's default): each list contributes
    ``SCALE div (K + rank)`` per document (integer arithmetic, so the
    fused ordering is engine-exact), missing from a list = 0.

    Lexical side: occurrence count of the query terms per doc (the
    degenerate-but-exact BM25 stand-in — scan-side explode + filter +
    agg, no index needed). Vector side: exact cosine against the query
    embedding (``brute_force_topk`` contract: rounded score, id
    tie-break). Both lists are top-``per_list`` windows; the fused
    top-``k`` carries both ranks for auditability.

    Scale shape: two scans (corpus text, corpus vectors), each ending in
    a bounded top-N window; fusion joins two <= per_list-row frames —
    broadcast territory at any corpus size."""
    terms = [t.lower() for t in query_terms]
    from ..functions.hashing import words as words_fn

    lex_scored = (spread(docs)
                  .select(F.col(doc_id_col).alias("id"),
                          F.explode(words_fn(F.col(text_col))).alias("w"))
                  .where(F.col("w").isin(terms))
                  .groupBy("id")
                  .agg(F.count(F.lit(1)).cast("long").alias("lex_score")))
    # distributed top-N first (TakeOrderedAndProject — per-partition heads
    # merged, never a global sort), THEN rank the <= per_list survivors
    # with a window whose single partition is bounded by construction
    lex_top = lex_scored.orderBy(F.col("lex_score").desc(),
                                 F.col("id")).limit(per_list)
    wl = Window.orderBy(F.col("lex_score").desc(), F.col("id"))
    lex = (lex_top.withColumn("lex_rank", F.row_number().over(wl))
           .select("id", "lex_rank"))

    qv = embeddings.where(F.col(vec_id_col) == query_vec_id) \
        .select(F.col(vec_id_col).alias("query_id"), vec_col)
    vec = (brute_force_topk(embeddings, qv, per_list,
                            vec_col=vec_col, id_col=vec_id_col)
           .select(F.col("neighbor_id").alias("id"),
                   F.col("rank").alias("vec_rank")))

    contrib_l = F.when(F.col("lex_rank").isNotNull(),
                       F.expr(f"{RRF_SCALE} div ({RRF_K} + lex_rank)")) \
        .otherwise(F.lit(0))
    contrib_v = F.when(F.col("vec_rank").isNotNull(),
                       F.expr(f"{RRF_SCALE} div ({RRF_K} + vec_rank)")) \
        .otherwise(F.lit(0))
    fused = (lex.join(vec, "id", "full_outer")
             .select("id", "lex_rank", "vec_rank",
                     (contrib_l + contrib_v).cast("long").alias("rrf")))
    wf = Window.orderBy(F.col("rrf").desc(), F.col("id"))
    return (fused.withColumn("rank", F.row_number().over(wf))
            .where(F.col("rank") <= k)
            .select(F.col("id").alias("doc_id"), "rank", "rrf",
                    "lex_rank", "vec_rank"))
