"""One measured pass of a workload against a fresh replica.

A pass sets the replica up (several times, for ``setup_s``), starts the
generator process and the streaming apply, runs the workload's clients
on their open-loop schedules, drains the stream, makes one supervisor
poll where the workload has a supervisor, checks the replica against
the generator's model, and returns the raw samples that ``report.py``
turns into metrics.

The package is touched only through its public calls:
``ReplicaEngine.create_table / snapshot_table / start_streaming /
apply_batch / read_final / optimize``, ``ReplicaOptimizer``,
``MaintainedIndex`` and ``bm25_indexed_topk`` / ``bm25_topk``. To time a
call the stream or the optimizer makes, the pass replaces the method on
that one object with a wrapper that times it and calls the original.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys
import threading
import time
import traceback

import datagen
import procstat
from config import SETUP_REPS

HERE = os.path.dirname(os.path.abspath(__file__))


class Counter:
    """Attempted and failed operations, shared by the client threads."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def ok(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, what: str, detail: str | None = None) -> None:
        """Count a failed operation; ``detail`` defaults to the exception
        being handled."""
        with self._lock:
            self.attempted += 1
            self.failed += 1
            if len(self.errors) < 20:
                if detail is None:
                    detail = traceback.format_exc(limit=3)
                self.errors.append(f"{what}: {detail}")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
    return total


def current_data_dir(engine, table: str) -> str:
    from mysql_ch_replicator_spark.engine import load_gen_manifest
    tdir = os.path.join(engine.root, datagen.DB, table)
    return os.path.join(tdir, load_gen_manifest(tdir)["current"])


def count_parquet(path: str, newer_than: float = 0.0) -> int:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return 0
    return sum(1 for n in names if n.endswith(".parquet")
               and os.path.getmtime(os.path.join(path, n)) >= newer_than)


def open_loop(name: str, interval: float, start_at: float, until: float,
              stop: threading.Event, fn, samples: list, counter: Counter):
    """Call ``fn(i)`` at ``start_at + i * interval`` until ``until``. A
    call that starts late starts at once, so a stall delays the calls
    behind it; each sample is timed from when it was due."""
    i = 0
    while not stop.is_set():
        due = start_at + i * interval
        if due >= until:
            break
        wait = due - time.monotonic()
        if wait > 0 and stop.wait(wait):
            break
        begin = time.monotonic()
        try:
            fn(i)
        except Exception:  # noqa: BLE001 - counted and reported
            counter.fail(name)
            ok = False
        else:
            counter.ok()
            ok = True
        end = time.monotonic()
        samples.append({"i": i, "due": due, "start": begin, "end": end,
                        "latency": end - due, "late": begin - due,
                        "ok": ok})
        i += 1


class Pass:
    def __init__(self, spark, work: str, workload: str, cfg: dict,
                 seed: int, seconds: float, tracer, seed_paths: dict,
                 setup_reps: int = SETUP_REPS):
        self.spark = spark
        self.work = work
        self.workload = workload
        self.cfg = cfg
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = tracer.enabled
        self.seed_paths = seed_paths
        self.setup_reps = setup_reps
        self.tables = list(cfg["tables"])
        self.counter = Counter()
        self.stop = threading.Event()
        self.commits: list[dict] = []
        self.samples: dict[str, list] = {"point": [], "scan": [],
                                         "probe": []}
        self.index_status: list[dict] = []
        self.usage = procstat.TreeUsage()
        self.out: dict = {"workload": workload}
        os.makedirs(work, exist_ok=True)

    # -- set-up -------------------------------------------------------------

    def _setup_once(self, rep: int):
        """Open an engine on a fresh root, create the tables and snapshot
        the seed tables into them."""
        from mysql_ch_replicator_spark.engine import ReplicaEngine

        snaps = []
        with self.tracer.span("bench.setup"):
            engine = ReplicaEngine(self.spark,
                                   os.path.join(self.work, f"replica{rep}"))
            for t in self.tables:
                engine.create_table(datagen.DB, datagen.create_sql(t))
                df = self.spark.read.parquet(self.seed_paths[t])
                t0 = time.monotonic()
                with self.tracer.span("engine.snapshot_table") as rec:
                    engine.snapshot_table(datagen.DB, t, df)
                snaps.append({"table": t, "rows": self.cfg["tables"][t],
                              "s": time.monotonic() - t0,
                              "span": rec and rec["id"],
                              "bytes": dir_bytes(current_data_dir(engine,
                                                                  t))})
        return engine, snaps

    def setup(self) -> None:
        """Set the replica up ``setup_reps`` times and keep the last. The
        first set-up is cold (class loading, code generation); unless it
        is the only one it is not timed, and ``setup_s`` is the median of
        the others. Then build the index, once."""
        times, snaps = [], []
        for rep in range(self.setup_reps):
            t0 = time.monotonic()
            engine, s = self._setup_once(rep)
            times.append(time.monotonic() - t0)
            snaps.append(s)
            if rep == 0 and self.workload == "serve_under_write":
                # warm the compaction path on a replica that is thrown
                # away: compacting the one the index is built on would
                # change its generation before the supervisor's poll
                engine.optimize(datagen.DB, self.tables[0])
        self.engine = engine
        self.out["setup_s"] = times[1:] or times
        self.out["snapshots"] = snaps[1:] or snaps
        self.ix = self.optimizer = None
        if self.workload == "serve_under_write":
            from mysql_ch_replicator_spark.indexmaint import MaintainedIndex
            from mysql_ch_replicator_spark.optimizer import ReplicaOptimizer
            self.ix = MaintainedIndex(
                engine, datagen.DB, "docs", os.path.join(self.work, "index"),
                "lexical", payload_col="body", max_lag_seconds=0.0,
                shards=4)
            t0 = time.monotonic()
            with self.tracer.span("indexmaint.build"):
                self.ix.build()
            self.out["index_build_s"] = time.monotonic() - t0
            # the deployed compaction interval (86400 s): the table has
            # never been compacted, so the poll after the window compacts
            # it, once
            self.optimizer = ReplicaOptimizer(engine, indexes=[self.ix])

    # -- instrumentation -----------------------------------------------------

    def _wrap(self, obj, meth: str, name: str, after=None):
        orig = getattr(obj, meth)
        tracer = self.tracer

        def wrapped(*a, **k):
            with tracer.span(name) as rec:
                r = orig(*a, **k)
                if after is not None:
                    after(rec, r, *a)
            return r
        setattr(obj, meth, wrapped)

    def instrument(self) -> None:
        """Time every streaming apply (always: the lag needs its return
        time and watermark, the CPU cost the process tree's CPU at that
        return) and, when traced, span the other calls."""
        engine = self.engine
        orig = engine.apply_batch
        tables = self.tables
        tracer = self.tracer
        traced = self.traced

        def apply_batch(events):
            n = len(self.commits)
            t_wall = time.time()
            with tracer.span("engine.apply_batch", trace=f"batch-{n}",
                             claim_ungrouped=True) as rec:
                start = time.monotonic()
                try:
                    orig(events)
                except Exception:
                    self.counter.fail("apply_batch")
                    raise
                end = time.monotonic()
                if traced:
                    rec["files_written"] = sum(
                        count_parquet(current_data_dir(engine, t), t_wall)
                        for t in tables)
            self.counter.ok()
            self.commits.append({
                "start": start, "end": end,
                "span": rec["id"] if rec else None,
                "last_seq": {t: engine.load_meta(datagen.DB, t)["last_seq"]
                             for t in tables},
                "usage": self.usage.sample()})
        engine.apply_batch = apply_batch
        if not traced:
            return

        self._wrap(engine, "execute_ddl", "engine.execute_ddl")
        self._wrap(engine, "read_final", "engine.read_final")

        def after_optimize(rec, _r, _db, table):
            rec["bytes_rewritten"] = dir_bytes(current_data_dir(engine,
                                                                table))
        self._wrap(engine, "optimize", "engine.optimize", after_optimize)
        if self.ix is not None:
            def after_apply(rec, r):
                rec["versions"] = int(r.get("versions", 0))
                rec["reconciled"] = bool(r.get("reconciled"))
            self._wrap(self.ix, "apply", "indexmaint.apply", after_apply)

            def after_rebalance(rec, r):
                rec["action"] = r
            self._wrap(self.ix, "maybe_rebalance",
                       "indexmaint.maybe_rebalance", after_rebalance)

    # -- clients -------------------------------------------------------------

    def _point_read(self, table: str, n_keys: int):
        from pyspark.sql import functions as F
        rng = random.Random(f"{self.seed}/point/{table}")
        engine, tracer = self.engine, self.tracer

        def read(i):
            k = rng.randrange(n_keys)
            with tracer.span("client.point_read", trace=f"read-{i}") as rec:
                df = engine.read_final(datagen.DB, table)
                with tracer.span("engine.read.exec"):
                    df.where(F.col("id") == k).collect()
                if rec is not None:
                    rec["files_listed"] = count_parquet(
                        current_data_dir(engine, table))
        return read

    def _scan(self, table: str):
        from pyspark.sql import functions as F
        engine, tracer = self.engine, self.tracer

        def scan(i):
            with tracer.span("client.scan", trace=f"scan-{i}"):
                df = engine.read_final(datagen.DB, table)
                with tracer.span("engine.read.exec"):
                    (df.groupBy("grp")
                     .agg(F.count(F.lit(1)), F.sum("qty")).collect())
        return scan

    def _probe(self):
        from mysql_ch_replicator_spark.operators.retrieval import \
            bm25_indexed_topk
        rng = random.Random(f"{self.seed}/probe")
        spark, tracer, path = self.spark, self.tracer, self.ix.index_path

        def probe(i):
            terms = [rng.choice(datagen.VOCAB[:20]),
                     rng.choice(datagen.VOCAB[20:200])]
            with tracer.span("client.probe", trace=f"probe-{i}"):
                with tracer.span("retrieval.bm25_indexed_topk"):
                    df = bm25_indexed_topk(spark, path, terms, k=10)
                with tracer.span("retrieval.probe.exec"):
                    df.collect()
        return probe

    def supervise(self) -> None:
        """One supervisor poll in the deployed order: index maintenance
        first (so the upsert takes the version-delta delete path), then
        compaction. An index failure comes back as an ``error:`` action,
        not an exception; it counts as a failed operation."""
        tracer, counter = self.tracer, self.counter
        with tracer.span("optimizer.maybe_maintain_indexes", trace="poll"):
            actions = self.optimizer.maybe_maintain_indexes()
        for _, action in actions:
            if action.startswith("error:"):
                counter.fail("maybe_maintain_indexes", action)
            else:
                counter.ok()
        self.out["index_actions"] = [a for _, a in actions]
        self.index_status.append({"t": time.monotonic(),
                                  "applied_seq":
                                  self.ix.status()["applied_seq"]})
        try:
            with tracer.span("optimizer.maybe_optimize", trace="poll"):
                self.out["compacted"] = self.optimizer.maybe_optimize()
        except Exception:  # noqa: BLE001 - counted and reported
            counter.fail("maybe_optimize")
        else:
            counter.ok()

    def _clients(self) -> list[tuple]:
        """(name, interval, offset, call) of each of the workload's
        clients: only serve_under_write has any. Call ``i`` of a client is
        due ``offset + i * interval`` after the generator's start, which
        is a quarter second after a trigger starts. Reads come once per
        trigger interval (scans every other), at phases where the apply
        of that trigger has returned and the next has not begun, so what
        they list is the same run to run."""
        if self.workload != "serve_under_write":
            return []
        cfg = self.cfg
        table = self.tables[0]
        trig = cfg["trigger_s"]
        return [
            ("point", trig, 1.2, self._point_read(table, cfg["tables"][table])),
            ("scan", 2 * trig, 1.3, self._scan(table)),
            ("probe", trig, 0.6, self._probe()),
        ]

    def _warm(self, jobs) -> None:
        """One untimed call of each client, so the first timed call does
        not pay for class loading and code generation."""
        for *_, fn in jobs:
            fn(-1)

    def _start_clients(self, jobs, start_at: float, until: float) -> list:
        threads = []
        for name, interval, offset, fn in jobs:
            th = threading.Thread(
                target=open_loop, name=f"client-{name}", daemon=True,
                args=(name, interval, start_at + offset, until, self.stop,
                      fn, self.samples[name], self.counter))
            th.start()
            threads.append(th)
        return threads

    # -- the generator -------------------------------------------------------

    def _generator(self, gen_dir: str, files: int, interval: float,
                   start_at: float) -> subprocess.Popen:
        os.makedirs(os.path.join(gen_dir, "events"), exist_ok=True)
        return subprocess.Popen(
            [sys.executable, os.path.join(HERE, "generator.py"),
             "--out", gen_dir, "--workload", self.workload,
             "--seed", str(self.seed), "--size", self.cfg["size"],
             "--files", str(files), "--interval", str(interval),
             "--start-at", repr(start_at)])

    def _wait_generator(self, gen: subprocess.Popen, timeout: float) -> None:
        try:
            rc = gen.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()
            raise RuntimeError("generator overran its schedule")
        if rc != 0:
            raise RuntimeError(f"generator exited with {rc}")

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        self.out["clock_offset"] = time.time() - time.monotonic()
        marks = [time.monotonic()]
        self.setup()
        marks.append(time.monotonic())
        self.instrument()
        self._run_open_loop()
        marks.append(time.monotonic())
        self._gate()
        marks.append(time.monotonic())
        self.out["phase_s"] = dict(zip(
            ("setup", "run", "gate"),
            (b - a for a, b in zip(marks, marks[1:]))))
        self.out.update({
            "commits": self.commits, "samples": self.samples,
            "index_status": self.index_status,
            "attempted": self.counter.attempted,
            "failed": self.counter.failed, "errors": self.counter.errors,
            "replica_bytes": sum(dir_bytes(current_data_dir(self.engine, t))
                                 for t in self.tables)})
        self.out["usage_end"] = self.usage.sample()
        return self.out

    def _stream(self, events_dir: str):
        return self.engine.start_streaming(
            events_dir, os.path.join(self.work, "checkpoint"),
            trigger_seconds=self.cfg["trigger_s"])

    def _run_open_loop(self) -> None:
        cfg = self.cfg
        gen_dir = os.path.join(self.work, "gen")
        interval = cfg["interval_s"]
        trig = cfg["trigger_s"]
        # whole triggers of warm-up: the window then opens at the same
        # trigger phase as the schedule, well before any apply returns
        warm = math.ceil(cfg["warmup_s"] / trig) * trig
        n_files = int(round((warm + self.seconds) / interval))
        # The generator imports the package before its first file is due;
        # the clients' first (untimed) calls overlap with that. Spark
        # starts processing-time triggers on wall-clock multiples of the
        # trigger interval: files are due half a file interval off those
        # instants, so every run sees the same phase between files and
        # triggers and no file races a trigger.
        wall = time.time() + 2.0
        start_at = (time.monotonic() + 2.0
                    + (interval / 2 - wall % trig) % trig)
        gen = self._generator(gen_dir, n_files, interval, start_at)
        self.usage.exclude.add(gen.pid)
        q = self._stream(os.path.join(gen_dir, "events"))
        jobs = self._clients()
        self._warm(jobs)
        win0 = start_at + warm
        win1 = win0 + self.seconds
        threads = self._start_clients(jobs, start_at, win1)
        try:
            time.sleep(max(0.0, win0 - time.monotonic()))
            u0 = self.usage.sample()
            time.sleep(max(0.0, win1 - time.monotonic()))
            self._wait_generator(gen, timeout=30.0)
            self._drain(q, threads)
            if self.ix is not None:
                # the supervisor's poll, once the window's changes are
                # drained and no client runs beside it
                self.supervise()
        finally:
            self.stop.set()
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        self.out.update(self._files(gen_dir))
        self.out.update({"window": [win0, win1], "usage_window_start": u0,
                         "progress": [json.loads(p.json)
                                      for p in q.recentProgress]})

    def _drain(self, q, threads) -> None:
        """Apply everything the generator wrote, then stop: the clients
        first, the stream only once it is idle (stopping it mid-batch can
        kill the stream thread)."""
        from pyspark.errors import StreamingQueryException
        try:
            q.processAllAvailable()
        except StreamingQueryException:
            self.counter.fail("stream terminated")
        self.stop.set()
        for th in threads:
            th.join(timeout=60.0)
            if th.is_alive():
                raise RuntimeError(f"{th.name} did not stop")
        q.stop()

    def _files(self, gen_dir: str) -> dict:
        with open(os.path.join(gen_dir, "files.jsonl"), encoding="utf-8") as fh:
            files = [json.loads(line) for line in fh]
        with open(os.path.join(gen_dir, "model.json"), encoding="utf-8") as fh:
            model = json.load(fh)
        return {"files": files, "model": model}

    # -- correctness -----------------------------------------------------------

    def _gate(self) -> None:
        from pyspark.sql import functions as F
        engine = self.engine
        model = self.out["model"]
        checks = []
        for t in self.tables:
            t0 = time.monotonic()
            m = model["tables"][t]
            changed = {int(k): v for k, v in m["changed"].items()}
            want = datagen.final_summary(self.seed_rows(t), changed)
            cols = [F.col(c).cast("string") for c in m["columns"]]
            row = (engine.read_final(datagen.DB, t)
                   .select(F.count(F.lit(1)).alias("rows"),
                           F.sum(F.crc32(F.concat_ws("|", *cols)))
                           .alias("checksum"))
                   .collect()[0])
            got = {"rows": int(row["rows"]),
                   "checksum": int(row["checksum"] or 0)}
            checks.append({"table": t, "want": want, "got": got,
                           "ok": want == got, "s": time.monotonic() - t0})
        if self.ix is not None:
            checks.append(self._index_gate())
        self.out["gate"] = checks
        self.out["correct"] = all(c["ok"] for c in checks)
        self.out["live_rows"] = sum(c["want"]["rows"] for c in checks
                                    if "table" in c)

    def _index_gate(self) -> dict:
        """Bring the index up to the replica, then require the indexed
        top-k to equal the corpus-scan top-k over ``read_final``."""
        from mysql_ch_replicator_spark.operators.retrieval import (
            bm25_indexed_topk, bm25_topk)
        ix = self.ix
        t0 = time.monotonic()
        for _ in range(3):
            if ix.status()["versions_behind"] <= 0:
                break
            ix.apply()
        t1 = time.monotonic()
        rng = random.Random(f"{self.seed}/gate")
        docs = self.engine.read_final(datagen.DB, "docs")
        bad = []
        # each corpus-scan top-k tokenizes the whole corpus again
        for _ in range(2):
            terms = [rng.choice(datagen.VOCAB[:20]),
                     rng.choice(datagen.VOCAB[20:200]),
                     rng.choice(datagen.VOCAB[20:200])]
            got = [tuple(r) for r in bm25_indexed_topk(
                self.spark, ix.index_path, terms, k=20).collect()]
            want = [tuple(r) for r in bm25_topk(
                docs, terms, k=20, text_col="body", id_col="id").collect()]
            if got != want:
                bad.append(terms)
        return {"index": ix.index_path, "ok": not bad,
                "behind": ix.status()["versions_behind"], "mismatch": bad,
                "converge_s": t1 - t0, "compare_s": time.monotonic() - t1}

    def seed_rows(self, table: str) -> list[tuple]:
        return datagen.seed_rows(self.seed, table, self.cfg["tables"][table])


def write_seed_tables(seed: int, cfg: dict, out_dir: str) -> dict:
    """Write each seed table as parquet (the snapshot's source); returns
    table -> path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for t, n in cfg["tables"].items():
        cols = list(zip(*datagen.seed_rows(seed, t, n)))
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(pa.table({
            "id": pa.array(cols[0], pa.int64()),
            "grp": pa.array(cols[1], pa.int32()),
            "qty": pa.array(cols[2], pa.int64()),
            "body": pa.array(cols[3], pa.string())}), path)
        paths[t] = path
    return paths
