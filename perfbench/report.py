"""Metrics from the raw samples of a pass.

``end_to_end`` gives what a user of the replica sees, from an untraced
pass; ``per_layer`` gives the layer numbers from a traced pass (and the
one-slot pass it is compared with). The names, units and meanings are
listed in README.md.
"""

from __future__ import annotations

from datetime import datetime

import stats

END_TO_END_UNITS = {
    "setup_s": "s",
    "cdc_lag_p50_s": "s",
    "cdc_lag_p95_s": "s",
    "cpu_s_per_kevent": "s",
    "replica_bytes_per_row": "B",
    "peak_rss_mb": "MB",
}


def _med(xs) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def _max(xs) -> float:
    return max(xs, default=0.0)


class PassView:
    """A pass's output with the CDC timeline attributed: which apply
    committed each event file, and which files count for the window."""

    def __init__(self, out: dict):
        self.out = out
        self.w0, self.w1 = out["window"]
        self.commits = out["commits"]
        self.files = stats.attribute_commits(out["files"], self.commits)
        expect = [f for f in out["files"] if self.w0 <= f["due"] < self.w1]
        self.window_files = [f for f in self.files
                             if self.w0 <= f["due"] < self.w1]
        self.expected = len(expect)
        self.missing = len(expect) - len(self.window_files)
        self.events_by_commit: dict[int, int] = {}
        self.files_by_commit: dict[int, int] = {}
        for f in self.files:
            c = f["commit"]
            self.events_by_commit[c] = self.events_by_commit.get(c, 0) \
                + f["events"]
            self.files_by_commit[c] = self.files_by_commit.get(c, 0) + 1

    def window_commits(self) -> list[int]:
        """Applies that returned inside the window."""
        return [i for i, c in enumerate(self.commits)
                if self.w0 <= c["end"] <= self.w1 + 1e-9]

    def _cpu_span(self) -> tuple[dict, dict, float]:
        """Process-tree usage at the two ends of the span that
        ``cpu_per_kevent`` describes, and the thousands of row events
        committed inside it."""
        used = sorted({f["commit"] for f in self.window_files})
        first, last = used[0], used[-1]
        u0 = (self.commits[first - 1]["usage"] if first
              else self.out["usage_window_start"])
        u1 = self.commits[last]["usage"]
        kev = sum(self.events_by_commit.get(c, 0)
                  for c in range(first, last + 1)) / 1000.0
        return u0, u1, kev

    def cpu_per_kevent(self) -> tuple[float, float]:
        """(JVM, Python) CPU seconds of the process tree per 1000 row
        events, over the applies that committed the window's files: from
        the return of the apply before the first of them (or the window's
        start) to the return of the last, per row event those applies
        committed. Cutting at apply returns keeps the CPU and the events
        it is divided by to the same applies, however many of them a
        window's files were spread over."""
        u0, u1, kev = self._cpu_span()
        return ((u1["jvm_cpu_s"] - u0["jvm_cpu_s"]) / kev,
                (u1["py_cpu_s"] - u0["py_cpu_s"]) / kev)

    def jit_per_kevent(self) -> float:
        u0, u1, kev = self._cpu_span()
        return (u1["jit_cpu_s"] - u0["jit_cpu_s"]) / kev

    def window_samples(self, kind: str) -> list[dict]:
        return [s for s in self.out["samples"][kind]
                if self.w0 <= s["due"] < self.w1 and s["ok"]]

    def in_window(self, spans: list[dict]) -> list[dict]:
        return [s for s in spans if self.w0 <= s["start"] < self.w1]


def end_to_end(out: dict, min_beyond: int) -> dict:
    v = PassView(out)
    lags = stats.event_lags(v.window_files)
    return {
        "setup_s": stats.median(out["setup_s"]),
        "cdc_lag_p50_s": stats.median(lags),
        "cdc_lag_p95_s": stats.tail(lags, 0.95, min_beyond),
        "cpu_s_per_kevent": sum(v.cpu_per_kevent()),
        "replica_bytes_per_row": out["replica_bytes"] / out["live_rows"],
        "peak_rss_mb": out["usage_end"]["peak_rss_mb"],
    }


def diagnostics(out: dict) -> dict:
    """Beside the metrics, never instead of them: how late the generator
    and the client schedulers ran, the host's regime, sample counts."""
    v = PassView(out)
    late = {k: [s["late"] for s in v.window_samples(k)]
            for k in out["samples"]}
    d = {
        "generator_late_p95_s": out["model"]["late_p95_s"],
        "generator_late_max_s": out["model"]["late_max_s"],
        "lag_files": len(v.window_files),
        "lag_samples": len(stats.event_lags(v.window_files)),
        "applies": len(v.window_commits()),
        "apply_wall_p50_s": _med(v.commits[i]["end"] - v.commits[i]["start"]
                                 for i in v.window_commits()),
        "missing_files": v.missing,
        "session_start_s": out.get("session_start_s"),
        "usage_end": out["usage_end"],
        "jit_cpu_s_per_kevent": v.jit_per_kevent(),
        "phase_s": out.get("phase_s"),
        "host": out.get("host"),
        "gate": [{k: g[k] for k in g if k != "mismatch"} for g in out["gate"]],
        "errors": out["errors"][:3],
    }
    for k, xs in late.items():
        if xs:
            d[f"{k}_samples"] = len(xs)
            d[f"{k}_late_p95_s"] = stats.percentile(xs, 0.95)
            d[f"{k}_late_max_s"] = max(xs)
            d[f"{k}_service_p50_s"] = stats.median(
                s["end"] - s["start"] for s in v.window_samples(k))
    return d


# -- per layer ---------------------------------------------------------------

# (name, unit, better) of every per-layer metric, in output order
PER_LAYER = [
    ("event_log.queue_wait_p50_s", "s", "lower"),
    ("event_log.latest_offset_p50_s", "s", "lower"),
    ("event_log.trigger_overhead_p50_s", "s", "lower"),
    ("event_log.files_per_batch", "count", "lower"),
    ("engine.apply.calls", "count", "higher"),
    ("engine.apply.wall_p50_s", "s", "lower"),
    ("engine.apply.wall_max_s", "s", "lower"),
    ("engine.apply.self_s", "s", "lower"),
    ("engine.apply.busy_share", "ratio", "lower"),
    ("engine.apply.jobs_per_call", "count", "lower"),
    ("engine.apply.stages_per_call", "count", "lower"),
    ("engine.apply.tasks_per_call", "count", "lower"),
    ("engine.apply.events_per_call", "count", "higher"),
    ("engine.apply.files_written_per_call", "count", "lower"),
    ("engine.apply.failed", "count", "lower"),
    ("engine.ddl.calls", "count", "lower"),
    ("engine.ddl.wall_p50_s", "s", "lower"),
    ("engine.ddl.self_s", "s", "lower"),
    ("engine.ddl.jobs_per_call", "count", "lower"),
    ("engine.snapshot.rows_per_s", "1/s", "higher"),
    ("engine.snapshot.wall_s", "s", "lower"),
    ("engine.snapshot.jobs", "count", "lower"),
    ("engine.snapshot.tasks", "count", "lower"),
    ("engine.snapshot.bytes_written", "B", "lower"),
    ("indexmaint.build_s", "s", "lower"),
    ("engine.read.calls", "count", "higher"),
    ("engine.read.point_p50_s", "s", "lower"),
    ("engine.read.plan_p50_s", "s", "lower"),
    ("engine.read.plan_max_s", "s", "lower"),
    ("engine.read.exec_p50_s", "s", "lower"),
    ("engine.read.self_s", "s", "lower"),
    ("engine.read.jobs_per_call", "count", "lower"),
    ("engine.read.tasks_per_call", "count", "lower"),
    ("engine.read.files_listed_p50", "count", "lower"),
    ("engine.read.scan_p50_s", "s", "lower"),
    ("optimizer.compact.calls", "count", "lower"),
    ("optimizer.compact.wall_p50_s", "s", "lower"),
    ("optimizer.compact.self_s", "s", "lower"),
    ("optimizer.compact.jobs_per_call", "count", "lower"),
    ("optimizer.compact.bytes_rewritten", "B", "lower"),
    ("indexmaint.apply_calls", "count", "lower"),
    ("indexmaint.apply_wall_p50_s", "s", "lower"),
    ("indexmaint.apply_self_s", "s", "lower"),
    ("indexmaint.apply_jobs_per_call", "count", "lower"),
    ("indexmaint.apply_tasks_per_call", "count", "lower"),
    ("indexmaint.versions_per_apply", "count", "higher"),
    ("indexmaint.reconcile_applies", "count", "lower"),
    ("indexmaint.rebalance_actions", "count", "lower"),
    ("indexmaint.lag_p50_s", "s", "lower"),
    ("retrieval.probe_calls", "count", "higher"),
    ("retrieval.probe_p50_s", "s", "lower"),
    ("retrieval.probe_exec_p50_s", "s", "lower"),
    ("retrieval.probe_self_s", "s", "lower"),
    ("retrieval.probe_jobs_per_call", "count", "lower"),
    ("proc.jvm_cpu_s_per_kevent", "s", "lower"),
    ("proc.py_cpu_s_per_kevent", "s", "lower"),
    ("trace.cdc_lag_p50_s", "s", "lower"),
    ("trace.cpu_s_per_kevent", "s", "lower"),
    ("trace.spans", "count", "lower"),
    ("trace.own_cost_s", "s", "lower"),
    ("scaling.apply_wall_1slot_ratio", "ratio", "higher"),
    ("scaling.read_exec_1slot_ratio", "ratio", "higher"),
    ("scaling.compact_wall_1slot_ratio", "ratio", "higher"),
    ("scaling.index_apply_1slot_ratio", "ratio", "higher"),
    ("scaling.probe_exec_1slot_ratio", "ratio", "higher"),
]
PER_LAYER_UNITS = {n: u for n, u, _ in PER_LAYER}


def _progress_in_window(out: dict) -> list[dict]:
    """Streaming progress of the batches that started in the window
    (progress timestamps are wall clock; the window is monotonic)."""
    off = out["clock_offset"]
    keep = []
    for p in out["progress"]:
        if not p.get("numInputRows"):
            continue
        t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        mono = t.timestamp() - off
        if out["window"][0] <= mono < out["window"][1]:
            keep.append(p)
    return keep


def layers(out: dict, tracer) -> dict:
    """The layer numbers of one traced pass (before the comparisons)."""
    v = PassView(out)
    m: dict[str, float] = {}
    W = v.in_window

    files = v.window_files
    m["event_log.queue_wait_p50_s"] = _med(f["queue_wait"] for f in files)
    prog = _progress_in_window(out)
    m["event_log.latest_offset_p50_s"] = _med(
        p["durationMs"].get("latestOffset", 0) / 1000.0 for p in prog)
    m["event_log.trigger_overhead_p50_s"] = _med(
        (p["durationMs"].get("triggerExecution", 0)
         - p["durationMs"].get("addBatch", 0)) / 1000.0 for p in prog)

    applies = [s for s in tracer.by_name("engine.apply_batch")
               if v.w0 <= s["end"] <= v.w1]
    idx = {c["span"]: i for i, c in enumerate(v.commits)}
    m["event_log.files_per_batch"] = _med(
        v.files_by_commit.get(idx.get(s["id"]), 0) for s in applies)
    m["engine.apply.calls"] = len(applies)
    m["engine.apply.wall_p50_s"] = _med(s["end"] - s["start"]
                                        for s in applies)
    m["engine.apply.wall_max_s"] = _max(s["end"] - s["start"]
                                        for s in applies)
    m["engine.apply.self_s"] = sum(s["self_s"] for s in applies)
    span_w = v.w1 - v.w0
    m["engine.apply.busy_share"] = sum(s["end"] - s["start"]
                                       for s in applies) / span_w
    for k in ("jobs", "stages", "tasks"):
        m[f"engine.apply.{k}_per_call"] = _med(s[k] for s in applies)
    m["engine.apply.events_per_call"] = _med(
        v.events_by_commit.get(idx.get(s["id"]), 0) for s in applies)
    m["engine.apply.files_written_per_call"] = _med(
        s.get("files_written", 0) for s in applies)
    m["engine.apply.failed"] = sum(1 for s in tracer.by_name(
        "engine.apply_batch") if "error" in s)

    ddl = W(tracer.by_name("engine.execute_ddl"))
    m["engine.ddl.calls"] = len(ddl)
    m["engine.ddl.wall_p50_s"] = _med(s["end"] - s["start"] for s in ddl)
    m["engine.ddl.self_s"] = sum(s["self_s"] for s in ddl)
    m["engine.ddl.jobs_per_call"] = _med(s["jobs"] for s in ddl)

    snap_ids = {s["span"] for s in out["snapshots"][-1]}
    snaps = [s for s in tracer.by_name("engine.snapshot_table")
             if s["id"] in snap_ids]
    m["engine.snapshot.rows_per_s"] = stats.median(
        sum(s["rows"] for s in rep) / sum(s["s"] for s in rep)
        for rep in out["snapshots"])
    m["engine.snapshot.wall_s"] = sum(s["end"] - s["start"] for s in snaps)
    m["engine.snapshot.jobs"] = sum(s["jobs"] for s in snaps)
    m["engine.snapshot.tasks"] = sum(s["tasks"] for s in snaps)
    m["engine.snapshot.bytes_written"] = sum(
        s["bytes"] for s in out["snapshots"][-1])
    m["indexmaint.build_s"] = out.get("index_build_s", 0.0)

    by_id = {s["id"]: s for s in tracer.spans}
    reads = W(tracer.by_name("client.point_read"))
    read_ids = {s["id"] for s in reads}
    plans = [s for s in tracer.by_name("engine.read_final")
             if s["parent"] in read_ids]
    execs = [s for s in tracer.by_name("engine.read.exec")
             if s["parent"] in read_ids]
    m["engine.read.calls"] = len(reads)
    m["engine.read.point_p50_s"] = _med(s["latency"]
                                        for s in v.window_samples("point"))
    m["engine.read.plan_p50_s"] = _med(s["end"] - s["start"] for s in plans)
    m["engine.read.plan_max_s"] = _max(s["end"] - s["start"] for s in plans)
    m["engine.read.exec_p50_s"] = _med(s["end"] - s["start"] for s in execs)
    m["engine.read.self_s"] = sum(s["self_s"] for s in W(
        tracer.by_name("engine.read_final")))
    m["engine.read.jobs_per_call"] = _med(s["jobs"] for s in reads)
    m["engine.read.tasks_per_call"] = _med(s["tasks"] for s in reads)
    m["engine.read.files_listed_p50"] = _med(s["files_listed"]
                                             for s in reads)
    m["engine.read.scan_p50_s"] = _med(s["latency"]
                                       for s in v.window_samples("scan"))

    # the supervisor's poll compacts once, after the window
    comp = tracer.by_name("engine.optimize")
    m["optimizer.compact.calls"] = len(comp)
    m["optimizer.compact.wall_p50_s"] = _med(s["end"] - s["start"]
                                             for s in comp)
    m["optimizer.compact.self_s"] = sum(s["self_s"] for s in comp)
    m["optimizer.compact.jobs_per_call"] = _med(s["jobs"] for s in comp)
    m["optimizer.compact.bytes_rewritten"] = _med(s["bytes_rewritten"]
                                                  for s in comp)

    # the maintenance poll runs once the window's changes are drained
    ixa = [s for s in tracer.by_name("indexmaint.apply")
           if by_id.get(s["parent"], {}).get("name")
           == "optimizer.maybe_maintain_indexes"]
    m["indexmaint.apply_calls"] = len(ixa)
    m["indexmaint.apply_wall_p50_s"] = _med(s["end"] - s["start"]
                                            for s in ixa)
    m["indexmaint.apply_self_s"] = sum(s["self_s"] for s in ixa)
    m["indexmaint.apply_jobs_per_call"] = _med(s["jobs"] for s in ixa)
    m["indexmaint.apply_tasks_per_call"] = _med(s["tasks"] for s in ixa)
    m["indexmaint.versions_per_apply"] = _med(s["versions"] for s in ixa)
    m["indexmaint.reconcile_applies"] = sum(1 for s in ixa
                                            if s.get("reconciled"))
    m["indexmaint.rebalance_actions"] = sum(
        1 for s in tracer.by_name("indexmaint.maybe_rebalance")
        if s.get("action"))
    m["indexmaint.lag_p50_s"] = _med(index_lags(out, files))

    probes = W(tracer.by_name("client.probe"))
    probe_ids = {s["id"] for s in probes}
    pexec = [s for s in tracer.by_name("retrieval.probe.exec")
             if s["parent"] in probe_ids]
    m["retrieval.probe_calls"] = len(probes)
    m["retrieval.probe_p50_s"] = _med(s["latency"]
                                      for s in v.window_samples("probe"))
    m["retrieval.probe_exec_p50_s"] = _med(s["end"] - s["start"]
                                           for s in pexec)
    m["retrieval.probe_self_s"] = sum(
        s["self_s"] for s in tracer.by_name("retrieval.bm25_indexed_topk")
        if s["parent"] in probe_ids)
    m["retrieval.probe_jobs_per_call"] = _med(s["jobs"] for s in probes)

    m["proc.jvm_cpu_s_per_kevent"], m["proc.py_cpu_s_per_kevent"] = \
        v.cpu_per_kevent()
    return m


def index_lags(out: dict, files: list[dict]) -> list[float]:
    """Event-file creation -> the first index status whose applied seq
    covers the file."""
    status = out["index_status"]
    lags = []
    for f in files:
        for s in status:
            if s["applied_seq"] >= f["max_seq"]:
                lags.append(s["t"] - f["created"])
                break
    return lags


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(traced: dict, traced_e2e: dict, tracer, one_slot: dict) -> dict:
    """The layer numbers plus the tracing overhead and the one-slot/N-slot
    wall ratios. The overhead is given two ways: the traced pass's own
    end-to-end lag and CPU (to compare with the untraced runs' medians),
    and the time the tracer spent in its own bookkeeping."""
    m = dict(traced)
    m["trace.cdc_lag_p50_s"] = traced_e2e["cdc_lag_p50_s"]
    m["trace.cpu_s_per_kevent"] = traced_e2e["cpu_s_per_kevent"]
    m["trace.spans"] = len(tracer.spans)
    m["trace.own_cost_s"] = tracer.cost_s
    for name, key in (("apply_wall", "engine.apply.wall_p50_s"),
                      ("read_exec", "engine.read.exec_p50_s"),
                      ("compact_wall", "optimizer.compact.wall_p50_s"),
                      ("index_apply", "indexmaint.apply_wall_p50_s"),
                      ("probe_exec", "retrieval.probe_exec_p50_s")):
        m[f"scaling.{name}_1slot_ratio"] = _ratio(one_slot[key], traced[key])
    return {n: m[n] for n, _, _ in PER_LAYER}
