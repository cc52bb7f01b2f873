"""Iterative graph rank over a token co-occurrence graph.

Data-curation pipelines rank sources/domains/terms by link or
co-occurrence authority (Common Crawl's harmonic-centrality domain
ranks, TextRank keyword extraction) and feed the rank into mixture
weights. This module gives the engine that shape: build a weighted
directed graph from corpus text, then run a fixed number of PageRank
iterations in EXACT fixed-point integer arithmetic so the result is
bit-identical across engines (the DuckDB oracle runs the same three
iterations as chained CTEs — float PR can never be hash-compared).

Fixed-point contract (scale 1e12, damping 85/100):

    rank0(v)   = SCALE
    contrib(e) = w(e) * (rank(src) idiv out_w(src))    -- integer div
    rank'(v)   = (15*SCALE) idiv 100 + (85 * sum contrib) idiv 100

All arithmetic runs in decimal(38,0) (HUGEINT on a DuckDB oracle):
Spark's non-ANSI bigint sum WRAPS silently while DuckDB promotes to
int128, so a large graph (acc → |V|·1e12) would diverge cross-engine —
the same overflow class embedding_outlier_scores and bm25_topk fixed
(ADVICE r5/r6). Integer division on decimals is the exact
remainder-subtracted form (``x div y`` on decimals silently truncates
back through bigint).

Dangling mass (nodes with no out-edges): ``redistribute=False`` drops
it — deterministic and standard for ranking where only the ORDER
matters; ``redistribute=True`` conserves it, adding each iteration's
dangling rank sum, split evenly (``dang idiv N``), into every node's
accumulator before damping — the variant mass-conserving uses
(mixture-weight normalization) need. Both modes stay exactly
SQL-expressible as chained CTEs.

Scale shape (100 TB): the edge list is the big side and shuffles once
per iteration on its destination key (the groupBy); the rank table is
vertex-cardinality. With a token/domain vocabulary the rank side is
broadcast-sized and AQE turns every rank join into a broadcast — the
edge list itself never re-partitions, exactly the Pregel cost model.
The dangling sum is a one-row frame crossJoined back (a broadcast
nested-loop over 1 row, the engine's standard scalar pattern). Plan
depth is ``iterations`` joins; at the 3–10 iterations ranking needs,
no checkpoint is required (the transitive-closure operator in
``dedup.py`` shows the checkpointed variant for unbounded loops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import transient_persist
from ..functions.hashing import shingles, words

SCALE = 10 ** 12
_BASE = 15 * SCALE // 100  # (1 - d) * SCALE, d = 0.85
_DEC = "decimal(38,0)"


def _idiv(num: Column, den: Column) -> Column:
    """Exact integer division on decimal(38,0) operands: subtracting the
    remainder first makes the decimal divide exact (no rounding step),
    where ``num div den`` would route through bigint and wrap past
    2^63."""
    return ((num - num % den) / den).cast(_DEC)


def word_cooccurrence_edges(docs: DataFrame,
                            text_col: str = "text") -> DataFrame:
    """Weighted directed edges (s, t, wt): adjacent-token pairs over the
    shared tokenizer, weight = corpus-wide occurrence count. One explode
    + one (s, t)-keyed aggregate with map-side combine."""
    bigram = F.explode(shingles(words(F.col(text_col)), 2)).alias("bg")
    g = docs.select(bigram)
    parts = F.split(F.col("bg"), " ")
    return (g.select(parts.getItem(0).alias("s"),
                     parts.getItem(1).alias("t"))
            .groupBy("s", "t")
            .agg(F.count(F.lit(1)).alias("wt")))


def pagerank(edges: DataFrame, iterations: int = 3,
             redistribute: bool = False) -> DataFrame:
    """Fixed-point PageRank over (s, t, wt) edges: (node, rank) with rank
    a decimal(38,0) integer at ``SCALE`` — deterministic, hashable,
    engine-portable at any graph size. ``redistribute=True`` conserves
    dangling mass (see module docstring)."""
    # The edge list feeds EVERY iteration's contrib join plus the
    # nodes/out_w derivations, and most of those consumers materialize
    # as concurrent broadcast-exchange jobs inside the caller's single
    # action — with a lazy lineage each broadcast re-ran the whole
    # upstream edge build (measured on graph_pagerank_conserving at
    # sf0.1: six 2.5–4.6 s re-executions of the tokenize+explode+agg
    # subtree, ~22 s of the query's 32 s total job time). One eager
    # persist pays the edge build once; Spark's cache has no concurrent-
    # materialization dedup, so eager (not first-consumer-lazy) is what
    # actually kills the stampede (guide §5 caching, §2.6 overlap).
    # A caller-persisted edges frame is used as-is: re-registering it in
    # the bounded FIFO would let an eviction unpersist a cache the
    # caller still counts on (ADVICE r13).
    if edges.storageLevel.useMemory or edges.storageLevel.useDisk:
        edges.count()
    else:
        edges = transient_persist(edges, eager=True)
    nodes = transient_persist(
        edges.select(F.col("s").alias("node"))
        .union(edges.select(F.col("t").alias("node")))
        .distinct(), eager=True)
    # sum IN decimal — sum(long).cast would aggregate in wrapping int64
    out_w = edges.groupBy("s").agg(
        F.sum(F.col("wt").cast(_DEC)).cast(_DEC).alias("ow"))
    contrib_edges = edges.join(out_w, "s")

    ranks = nodes.select("node", F.lit(SCALE).cast(_DEC).alias("rank"))
    prev_ranks = None
    try:
        for it in range(iterations):
            acc = (contrib_edges
                   .join(ranks, contrib_edges["s"] == ranks["node"])
                   .select(F.col("t"),
                           (F.col("wt").cast(_DEC)
                            * _idiv(F.col("rank"), F.col("ow"))).alias("c"))
                   .groupBy("t")
                   .agg(F.sum("c").cast(_DEC).alias("acc")))
            joined = (nodes.join(acc, nodes["node"] == acc["t"], "left")
                      .select("node",
                              F.coalesce("acc", F.lit(0).cast(_DEC))
                              .alias("acc")))
            if redistribute:
                dang = (ranks.join(out_w.select(F.col("s").alias("node")),
                                   "node", "left_anti")
                        .agg(F.coalesce(F.sum("rank"), F.lit(0))
                             .cast(_DEC).alias("dang"))
                        .crossJoin(nodes.agg(
                            F.count(F.lit(1)).cast(_DEC).alias("n_nodes"))))
                joined = (joined.crossJoin(F.broadcast(dang))
                          .select("node",
                                  (F.col("acc")
                                   + _idiv(F.col("dang"), F.col("n_nodes")))
                                  .alias("acc")))
            ranks = joined.select(
                "node",
                (F.lit(_BASE).cast(_DEC)
                 + _idiv(F.lit(85).cast(_DEC) * F.col("acc"),
                         F.lit(100).cast(_DEC))).cast(_DEC).alias("rank"))
            # each intermediate rank table is consumed 2–3x by the NEXT
            # iteration (contrib join, dangling anti-join) on concurrent
            # broadcast threads — same stampede as the edges above, and the
            # un-cached lineage branches compound per iteration. The FINAL
            # iteration stays lazy: it has exactly one consumer (the
            # caller's action) and keeps the full plan visible.
            # Iteration-local cache lifecycle (ADVICE r13): routing every
            # intermediate through the shared FIFO meant iterations >= ~14
            # evicted their own edges/early-rank caches mid-computation.
            # Instead each intermediate is unpersisted HERE once the next
            # one materializes; only the LAST intermediate (which the
            # returned lazy final iteration still reads) enters the bounded
            # registry, so the FIFO holds <= 3 entries per call at any
            # iteration count.
            if it < iterations - 1:
                ranks = ranks.persist()
                ranks.count()
                if prev_ranks is not None:
                    prev_ranks.unpersist()
                prev_ranks = ranks
    except BaseException:
        # an iteration that raised must not leak the intermediates it
        # holds: the last materialized one and a just-persisted one
        ranks.unpersist()
        if prev_ranks is not None:
            prev_ranks.unpersist()
        raise
    if prev_ranks is not None:
        # already persisted+materialized; register for bounded lifetime
        transient_persist(prev_ranks)
    return ranks
