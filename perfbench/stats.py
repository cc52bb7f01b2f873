"""Percentiles and the CDC lag timeline.

A reported percentile must have at least ``MIN_BEYOND`` samples above
it, so that a tail figure is never one or two outliers: with ``n``
sorted samples the q-percentile sits at rank ``q * (n - 1)``, so
``n - 1 - floor(q * (n - 1))`` samples lie beyond it.
"""

from __future__ import annotations

import bisect
import math

MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    return n - 1 - math.floor(q * (n - 1)) if n else 0


def min_samples(q: float, beyond: int = MIN_BEYOND) -> int:
    """The smallest sample count whose q-percentile has ``beyond``
    samples above it."""
    n = beyond + 1
    while samples_beyond(n, q) < beyond:
        n += 1
    return n


def tail(values, q: float, beyond: int = MIN_BEYOND) -> float:
    """The q-percentile, refusing one with fewer than ``beyond`` samples
    above it."""
    if samples_beyond(len(values), q) < beyond:
        raise ValueError(f"p{round(q * 100)} of {len(values)} samples has "
                         f"fewer than {beyond} beyond it; need "
                         f"{min_samples(q, beyond)}")
    return percentile(values, q)


def median(values) -> float:
    return percentile(values, 0.5)


def attribute_commits(files: list[dict], commits: list[dict]) -> list[dict]:
    """Match each event file to the apply that committed it.

    ``files``: the generator's sidecar rows (``table``, ``max_seq``,
    ``created``). ``commits``: one row per ``apply_batch`` return, in
    return order, with ``start``/``end`` times and ``last_seq``, the
    table -> ``last_seq`` of the replica's meta read just after the
    return. A file is committed by the first apply after which its
    table's ``last_seq`` reaches the file's ``max_seq``.

    Returns one row per committed file: the file plus ``commit`` (the
    apply's index), ``commit_end`` (its return time) and ``queue_wait``
    (created -> apply start). Files never committed are left out."""
    by_table: dict[str, tuple[list[int], list[int]]] = {}
    for t in {f["table"] for f in files}:
        seqs, idx = [], []
        best = -1
        for i, c in enumerate(commits):
            s = c["last_seq"].get(t, -1)
            if s > best:  # the watermark only counts where it rises
                best = s
                seqs.append(s)
                idx.append(i)
        by_table[t] = (seqs, idx)
    out = []
    for f in files:
        seqs, idx = by_table[f["table"]]
        j = bisect.bisect_left(seqs, f["max_seq"])
        if j == len(seqs):
            continue
        c = commits[idx[j]]
        out.append({**f, "commit": idx[j], "commit_end": c["end"],
                    "queue_wait": c["start"] - f["created"]})
    return out


def event_lags(files: list[dict]) -> list[float]:
    """Source time -> visibility of every row event in the committed
    ``files``: a file's ``events`` source times are spread evenly from
    ``t_first`` to ``t_last``, and all become visible at ``commit_end``."""
    lags = []
    for f in files:
        n = f["events"]
        step = (f["t_last"] - f["t_first"]) / (n - 1) if n > 1 else 0.0
        lags.extend(f["commit_end"] - (f["t_first"] + j * step)
                    for j in range(n))
    return lags
