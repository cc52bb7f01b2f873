"""Workload sizes. ``full`` is what BENCHMARK.json runs; ``tiny`` is the
smoke size the benchmark's own tests run."""

from __future__ import annotations

_FULL = {
    # open loop, one table, 80/10/10 update/insert/delete, no reads, no
    # compaction, no index. The 2 s trigger keeps every run within its
    # trigger: the fixed cost of a micro-batch is 0.7-1 s (README.md).
    # The rate is a quarter of the rate this shape sustains at that
    # trigger; at half, an apply overran its trigger in most runs
    # (README.md, "Offered rate").
    "cdc_trickle": {
        "tables": {"items": 200_000},
        "events_per_file": 450,
        "interval_s": 0.5,           # 2 files/s = 900 events/s
        "trigger_s": 2.0,
        "alter_every": 0,
        "warmup_s": 14.0,
    },
    # light CDC beside open-loop reads and probes, then one supervisor
    # poll in the deployed order: index upsert, then compaction
    "serve_under_write": {
        "tables": {"docs": 10_000},
        "events_per_file": 50,
        "interval_s": 0.5,           # 2 files/s = 100 events/s
        "trigger_s": 2.0,
        # one ADD COLUMN barrier per 10 s window (file 20 of the run)
        "alter_every": 20,
        "warmup_s": 6.0,
        # clients per 2 s trigger: a point read and a probe each, a scan
        # every other (workloads.Pass._clients)
    },
}

_TINY_TABLES = {
    "cdc_trickle": {"items": 2_000},
    "serve_under_write": {"docs": 500},
}

# set-ups per run: the first is cold and untimed, ``setup_s`` is the
# median of the others
SETUP_REPS = 9


def workload_config(name: str, size: str = "full") -> dict:
    if name not in _FULL:
        raise KeyError(f"unknown workload {name!r}; "
                       f"choose from {sorted(_FULL)}")
    cfg = dict(_FULL[name], size=size, min_beyond=10)
    if size == "tiny":
        cfg["min_beyond"] = 0
        cfg["tables"] = dict(_TINY_TABLES[name])
        cfg["events_per_file"] = max(5, cfg["events_per_file"] // 10)
        if cfg["alter_every"]:
            cfg["alter_every"] = 4
        cfg["warmup_s"] = 4.0
    elif size != "full":
        raise ValueError(f"unknown size {size!r}")
    return cfg


WORKLOADS = sorted(_FULL)
