"""Graph operators: cache lifetime of the iterative PageRank."""

from __future__ import annotations

import pytest


def test_pagerank_failed_iteration_releases_intermediates(spark,
                                                          monkeypatch):
    """An iteration that raises after an earlier one persisted its rank
    table must not leak that cache: once the bounded transient FIFO
    (edges, nodes) is released, the persistent-RDD count is back to its
    size before the call."""
    from mysql_ch_replicator_spark import cache
    from mysql_ch_replicator_spark.operators import graph

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 7, 1) for i in range(30)],
        "s long, t long, wt long")
    real_idiv = graph._idiv
    calls = {"n": 0}

    def failing_idiv(a, b):
        # two _idiv calls per iteration without redistribution: the
        # third is iteration 2's, after iteration 1 persisted its ranks
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected iteration failure")
        return real_idiv(a, b)

    cache.release_transient_caches()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    monkeypatch.setattr(graph, "_idiv", failing_idiv)
    with pytest.raises(RuntimeError, match="injected iteration failure"):
        graph.pagerank(edges, iterations=4)
    cache.release_transient_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
