"""Bounded lifecycle for operator-internal caches.

Several operators ``persist()`` an expensive intermediate that BOTH later
internal jobs and the returned lazy plan reference (staged shingles,
scored projections, normalized vectors...). The operator cannot eagerly
unpersist — the caller's action still needs the blocks — but a bare
``persist()`` leaks one cache entry per call, and a long-lived driver
session running the whole 221-query registry accumulates them without
bound (ADVICE r4).

``transient_persist`` is the middle ground: persist and register in a
bounded FIFO — when the registry exceeds the cap the OLDEST entry is
unpersisted (by then its query has long since run its actions; recompute
is always correct anyway, caching is a pure optimization here). Sessions
therefore hold at most ``TRANSIENT_CACHE_LIMIT`` operator caches, and
block-level LRU eviction inside that bounded set behaves as before.

``release_transient_caches`` drops everything immediately — bench
harnesses call it between queries, tests call it in teardown.
"""

from __future__ import annotations

import threading
from collections import deque

from pyspark.sql import DataFrame

TRANSIENT_CACHE_LIMIT = 16

_TRANSIENT: deque[DataFrame] = deque()
# Operators may run from concurrent threads (engine apply_parallelism pool,
# multi-threaded bench); registration and eviction must not interleave or
# the cap can overshoot / an eviction can race a registration (ADVICE r5).
_TRANSIENT_LOCK = threading.Lock()


def transient_persist(df: DataFrame,
                      limit: int = TRANSIENT_CACHE_LIMIT,
                      eager: bool = False) -> DataFrame:
    """persist() with bounded lifetime: evicts the oldest registered
    transient cache once more than ``limit`` are alive.

    ``eager=True`` materializes the cache NOW with one count() job.
    Use it when the FIRST consumers run on concurrent scheduler threads
    (overlapped writers/collects): Spark's cache has no stampede
    protection — N concurrent jobs that all first-touch an unpopulated
    cache each recompute the full plan (measured: the 3 overlapped
    lexical-index writers re-ran the tokenize 3x, and 8 concurrent AQE
    broadcast stages re-ran a 1-task Arrow decode 8x). One eager job
    pays the plan once; every overlapped consumer then reads blocks.
    Leave False (default) when consumption is serial — the first
    consumer materializes it for free."""
    df.persist()
    evicted: list[DataFrame] = []
    with _TRANSIENT_LOCK:
        _TRANSIENT.append(df)
        while len(_TRANSIENT) > limit:
            evicted.append(_TRANSIENT.popleft())
    for old in evicted:  # unpersist outside the lock — it can block on the JVM
        old.unpersist()
    if eager:
        df.count()
    return df


def release_transient_caches() -> int:
    """Unpersist every registered transient cache; returns the count."""
    with _TRANSIENT_LOCK:
        drained = list(_TRANSIENT)
        _TRANSIENT.clear()
    for df in drained:
        df.unpersist()
    return len(drained)
