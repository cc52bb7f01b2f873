"""Spans around the benchmark's calls into each layer, with the Spark
work each call issued.

Every span runs its call under a Spark job group of its own, so the
status tracker can say afterwards which jobs, stages and tasks the call
issued. Spans nest per thread: a span opened while another is open in
the same thread becomes its child and, when it closes, hands the job
group back to its parent. Spans stay in memory; ``resolve`` reads the
counts once the run is over and ``dump`` writes them out.

Jobs submitted from threads the program starts itself (the engine
applies tables in parallel from a thread pool) carry no job group. A
span opened with ``claim_ungrouped=True`` takes the ungrouped jobs
submitted while it was open; only the CDC apply does, and only one
apply runs at a time.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        #: wall time the tracer itself spent opening and closing spans
        self.cost_s = 0.0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, trace: str | None = None,
             claim_ungrouped: bool = False, **attrs):
        t_open = time.monotonic()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "trace": trace or (parent["trace"] if parent else f"t{sid}"),
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{sid}",
               "claim_ungrouped": claim_ungrouped,
               "start": time.monotonic(), "wall_start": time.time(),
               **attrs}
        stack.append(rec)
        self._set_group(rec)
        opened = time.monotonic() - t_open
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = t_close = time.monotonic()
            rec["wall_end"] = time.time()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(rec)
                self.cost_s += opened + (time.monotonic() - t_close)

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (an event file's wait from
        creation to the return of the apply that committed it)."""
        with self._lock:
            self.spans.append({"id": next(self._ids), "name": name,
                               "trace": trace, "parent": parent,
                               "start": start, "end": end, **attrs})

    # -- after the run ----------------------------------------------------

    def _job_work(self, tracker, jid: int) -> tuple[int, int, int]:
        info = tracker.getJobInfo(jid)
        if info is None:
            return 0, 0, 0
        stages = tasks = 0
        for sid in info.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
        return 1, stages, tasks

    def _ungrouped(self) -> list[tuple[int, float]]:
        """(job id, submission time) of every job without a group."""
        store = self.sc._jsc.sc().statusStore()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(None):
            sub = store.job(jid).submissionTime()
            if sub.isDefined():
                out.append((jid, sub.get().getTime() / 1000.0))
        return out

    def resolve(self) -> None:
        """Attach each span's own and inclusive job/stage/task counts."""
        tracker = self.sc.statusTracker()
        by_id = {s["id"]: s for s in self.spans}
        own: dict[int, list[int]] = {}
        for s in self.spans:
            if "group" not in s:
                continue
            acc = [0, 0, 0]
            for jid in tracker.getJobIdsForGroup(s["group"]):
                for i, v in enumerate(self._job_work(tracker, jid)):
                    acc[i] += v
            own[s["id"]] = acc
        claimers = [s for s in self.spans if s.get("claim_ungrouped")]
        for jid, t in self._ungrouped():
            for s in claimers:
                if s["wall_start"] <= t <= s["wall_end"]:
                    for i, v in enumerate(self._job_work(tracker, jid)):
                        own[s["id"]][i] += v
                    break
        for s in self.spans:
            s["own_jobs"], s["own_stages"], s["own_tasks"] = \
                own.get(s["id"], [0, 0, 0])
            s["jobs"], s["stages"], s["tasks"] = own.get(s["id"], [0, 0, 0])
            s["child_s"] = 0.0
        # inclusive counts and children's time: walk each span's ancestors
        for s in self.spans:
            if "group" not in s:
                continue
            p = by_id.get(s["parent"])
            if p is not None and p.get("group"):
                p["child_s"] += s["end"] - s["start"]
            while p is not None and p.get("group"):
                for k in ("jobs", "stages", "tasks"):
                    p[k] += s[f"own_{k}"]
                p = by_id.get(p["parent"])
        for s in self.spans:
            s["self_s"] = (s["end"] - s["start"]) - s["child_s"]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh,
                      default=str)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class NullTracer:
    """The untraced run: no job groups, no spans."""

    enabled = False

    @contextmanager
    def span(self, name, trace=None, claim_ungrouped=False, **attrs):
        yield None
