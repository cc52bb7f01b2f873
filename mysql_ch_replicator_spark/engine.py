"""ReplicaEngine — the orchestrator: snapshot + CDC apply + DDL evolution
over a parquet-backed, versioned, latest-wins replica.

Reference lifecycle being reproduced (SURVEY.md §3):
``db_replicator`` state machine (snapshot → realtime apply), flush-before-DDL
barrier, per-table version counters, replay guard, TRUNCATE/DROP/RENAME
handling, periodic OPTIMIZE compaction.

Spark-first storage design (NOT a port of the ClickHouse sink):

- each table is an **append-only parquet directory** of rows stamped with
  ``_version`` (monotone long) and ``_op`` (1=ADD, 2=REMOVE tombstone)
- CDC apply appends O(batch) rows — never rewrites the table. Deletes are
  PK-only tombstones (reference issues DELETE against ClickHouse,
  clickhouse_api.py:368–400; ClickHouse, like us, defers the actual removal
  to merge time)
- reads collapse to the max-version row per PK and drop REMOVE winners —
  one hash aggregate (operators/replica.py) — exactly the semantics of
  ``ReplacingMergeTree(_version) ... SETTINGS final=1``
- ``optimize()`` materializes the collapse and drops tombstones — the
  reference's ``OPTIMIZE TABLE ... FINAL`` (db_optimizer.py:71–80)
- table metadata (parsed structure, PKs, version/seq watermarks) lives in a
  ``_meta.json`` next to the data — the reference's ``state.pckl``
  (db_replicator.py:33–86)

Scale notes: appends parallelize per partition; the read-time collapse
shuffles once on the PK (map-side partial agg); compaction bounds read
amplification the same way ClickHouse merges do. Schema evolution is
metadata-first: ADD/DROP COLUMN touch no data files (reads use the file
schema the writes record in ``_meta.json``); only MODIFY/CHANGE (type
change) rewrite, which parquet fundamentally requires (SURVEY.md §7 'hard
parts').
"""

from __future__ import annotations

import contextlib
import copy
import dataclasses
import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .functions.conversions import default_for, payload_exprs
from .operators.replica import (
    OP_ADD, OP_REMOVE, VERSION_COL,
    collapse_exprs, dedup_final_ops,
)
from .schema.ddl_parser import (
    parse_alter_table,
    parse_create_table,
    parse_drop_table,
    parse_rename_table,
    parse_truncate_table,
)
from .schema.table_structure import TableField, TableStructure
from .schema.type_mapping import spark_type_for
from .sources.event_log import (
    EVENT_TYPE_QUERY, explode_row_events, stream_event_log,
)

OP_COL = "_op"

# A CDC micro-batch whose input is at most this many bytes is applied in
# one task with no shuffle; a larger one collapses through a PK shuffle,
# which parses on every core. The bound is the measured crossover of the
# two plans under streaming (README, "CDC apply: jobs per micro-batch");
# a foreachBatch batch runs with adaptive execution on, so the shuffle's
# partitions are coalesced. Each input file also costs the one-task plan
# time, but a streaming batch reaches apply_batch without its file list,
# so the bound counts bytes only.
_ONE_TASK_MAX_BYTES = 12 * 1024 * 1024


def _structure_to_dict(st: TableStructure) -> dict:
    return {
        "table_name": st.table_name,
        "charset": st.charset,
        "primary_keys": st.primary_keys,
        "fields": [dataclasses.asdict(f) for f in st.fields],
    }


def _structure_from_dict(d: dict) -> TableStructure:
    return TableStructure(
        fields=[TableField(**f) for f in d["fields"]],
        primary_keys=list(d["primary_keys"]),
        table_name=d["table_name"],
        charset=d.get("charset"),
    )


def _write_json(path: str, obj, **dump_kw) -> None:
    """Atomic JSON publish (temp file, then ``os.replace``): a reader sees
    the old file or the new one, never none (``fsutil.write_text`` deletes,
    then renames, once a session is live)."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, **dump_kw)
    os.replace(tmp, path)


def _file_schema(fields) -> dict:
    """A ``file_schema`` meta entry: the Spark schema JSON of ``fields``,
    every field nullable."""
    return StructType([StructField(f.name, f.dataType, True)
                       for f in fields]).jsonValue()


def _record_rewrite(meta: dict, df: DataFrame) -> None:
    """A rewrite's generation holds ``df``'s columns under their logical
    names: record that schema and drop the column mapping."""
    meta["file_schema"] = _file_schema(df.schema.fields)
    for f in meta["structure"]["fields"]:
        f["physical"] = None


def _gen_manifest_path_of(root: str) -> str:
    return os.path.join(root, "_generations.json")


def load_gen_manifest(root: str) -> dict:
    """Generation manifest {current: dirname, retired: [{name, ts}...]}
    of any versioned data root; missing/unreadable → a table never
    rewritten since creation (current = "data")."""
    try:
        with open(_gen_manifest_path_of(root), encoding="utf-8") as fh:
            g = json.load(fh)
    except (OSError, ValueError):
        g = {}
    if not isinstance(g, dict):
        g = {}
    g.setdefault("current", "data")
    g.setdefault("retired", [])
    return g


def next_gen_name(root: str) -> str:
    cur = load_gen_manifest(root)["current"]
    n = int(cur[len("data.gen"):]) if cur.startswith("data.gen") else 0
    nxt = n + 1
    # never reuse a dirty name a crashed rewrite may have left (orphans
    # are swept at publish time)
    while os.path.exists(os.path.join(root, f"data.gen{nxt}")):
        nxt += 1
    return f"data.gen{nxt}"


#: How long a retired generation's files stay on disk (seconds). A reader
#: that resolved a generation has this long to finish collecting after a
#: rewrite retires it — the same contract as Delta's VACUUM retention.
#: Next-rewrite-only reclamation is NOT enough: back-to-back compactions
#: (tight supervisor loop, test churn) would shrink the grace window to
#: milliseconds and break in-flight readers.
GENERATION_RETENTION_S = 60.0


def _retired_entries(g: dict) -> list[dict]:
    """The manifest's retired generations as ``{name, ts}`` entries, with
    the ``file_schema`` of their files where the rewrite recorded it."""
    return [dict(r, ts=float(r.get("ts", 0.0)))
            for r in g["retired"] if isinstance(r, dict) and "name" in r]


def publish_generation(root: str, new_name: str,
                       retention_s: float = GENERATION_RETENTION_S,
                       now: float | None = None,
                       retired_schema: dict | None = None) -> None:
    """Flip the manifest to ``new_name`` (atomic os.replace), retire the
    previous current generation, and delete retired generations older than
    ``retention_s`` — readers of a retired generation get at least that
    long to finish, however fast rewrites churn. Orphan gen dirs (crashed
    rewrites that never published) are swept too; callers hold the owning
    lock. ``now`` is injectable so a scheduler's clock drives retention
    decisions consistently (ReplicaOptimizer.maybe_vacuum).
    ``retired_schema``, the ``file_schema`` of the generation being
    retired, is kept in its entry for time-travel reads."""
    import time as _time

    if now is None:
        now = _time.time()
    g = load_gen_manifest(root)
    kept: list[dict] = []
    for r in _retired_entries(g):
        if r["name"] == new_name:
            continue
        if now - r["ts"] >= retention_s:
            shutil.rmtree(os.path.join(root, r["name"]), ignore_errors=True)
        elif os.path.exists(os.path.join(root, r["name"])):
            kept.append(r)
    live = {new_name, g["current"]} | {r["name"] for r in kept}
    for entry in os.listdir(root):
        if (entry.startswith("data.gen") and entry not in live
                and os.path.isdir(os.path.join(root, entry))):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    if (g["current"] != new_name
            and os.path.exists(os.path.join(root, g["current"]))):
        kept.append({"name": g["current"], "ts": now}
                    | ({"file_schema": retired_schema}
                       if retired_schema else {}))
    _write_json(_gen_manifest_path_of(root),
                {"current": new_name, "retired": kept})


@dataclasses.dataclass(frozen=True)
class _ApplyPlan:
    """One table's CDC apply expressions. They depend only on the table's
    structure (``token``, its ``meta["structure"]`` JSON) and the engine's
    settings, so each is built once per structure and every batch reuses
    it, adding only its literals (the replay watermark and the new
    ``_version``). Rebuilt for every batch, they cost about three times
    the py4j round trips of the rest of the apply."""
    token: str
    pks: list[str]
    typed: list[Column]      # seq, idx, event_type + one column per field
    winner: Column           # the collapse's max_by(…, (seq, idx)) as __w
    final_ops: list[Column]  # __w unpacked: pks, seq, idx, event_type, …
    stats: list[Column]      # n, n_add, mx (newest seq) over __w
    fields_out: list[Column]  # __w's fields, tombstone-nulled, physical names
    op_out: Column
    options: dict[str, str]  # writer options (codec, bloom filters)
    parts: list[str]         # physical partition columns


class ReplicaEngine:
    def __init__(self, spark: SparkSession, root: str,
                 mysql_timezone: str = "UTC",
                 types_mapping: dict[str, str] | None = None,
                 ignore_deletes: bool = False,
                 settings=None):
        from .monitoring import ApplyStats

        self.spark = spark
        self.root = root
        # a Settings object (config.py) centralizes every knob; the explicit
        # kwargs remain as shortcuts for programmatic use
        self.settings = settings
        if settings is not None:
            mysql_timezone = settings.mysql_timezone
            types_mapping = settings.types_mapping or types_mapping
            ignore_deletes = settings.ignore_deletes or ignore_deletes
        self.mysql_timezone = mysql_timezone
        self.types_mapping = types_mapping
        # K6 — append-only mode: REMOVE events dropped entirely
        # (reference db_replicator_realtime.py:152–160)
        self.ignore_deletes = ignore_deletes
        self.stats = ApplyStats()   # A4 — throughput counters
        # Per-table re-entrant locks: a streaming micro-batch (Spark
        # streaming thread) and the compaction scheduler (supervisor poll
        # thread) run in the SAME process but different threads; without
        # mutual exclusion optimize()'s read→write→publish can lose rows a
        # concurrent apply appends between its read and its generation flip (the
        # reference never hits this — OPTIMIZE FINAL is transactional
        # inside ClickHouse). Cross-PROCESS writers are out of scope, same
        # single-writer-per-database assumption as publish_database.
        import threading
        self._table_locks: dict[tuple[str, str], threading.RLock] = {}
        self._table_locks_guard = threading.Lock()
        # Per-table writes within one micro-batch segment are independent
        # (distinct data dirs, distinct meta files, per-table locks), so
        # they run on a thread pool: Spark job submission is thread-safe
        # per session, and at hundreds of tables per batch the sequential
        # loop serializes many small write jobs (the reference gets the
        # same overlap from per-db worker processes, runner.py:176–200).
        # The counters the threads share are guarded by _stats_guard.
        self.apply_parallelism = (settings.apply_parallelism
                                  if settings is not None else 8)
        #: retired-generation retention (module default 60 s); tests that
        #: assert immediate reclamation set it to 0
        self.generation_retention_s = GENERATION_RETENTION_S
        self._gen_cache: dict[str, tuple] = {}  # manifest cache (mtime key)
        self._meta_updates: set[tuple[str, str]] = set()  # open updates
        # (db, table) -> _ApplyPlan; replaced when the structure changes
        self._apply_plans: dict[tuple[str, str], _ApplyPlan] = {}
        self._stats_guard = threading.Lock()
        os.makedirs(root, exist_ok=True)
        self.recover_databases()  # finish any interrupted db-level publish

    def table_lock(self, db: str, table: str):
        """The (db, table) mutex serializing data-dir mutations: CDC
        appends, compaction rewrites, truncates, and structure rewrites.
        Re-entrant, so ``update_meta`` can run inside a section that
        already holds it."""
        import threading
        with self._table_locks_guard:
            return self._table_locks.setdefault((db, table),
                                                threading.RLock())

    def _replicates(self, db: str, table: str) -> bool:
        """F1 — db/table glob filters, exclude wins (reference
        config.py:261–282, applied binlog_replicator.py:464–490)."""
        if self.settings is None:
            return True
        return (self.settings.is_database_matches(db)
                and self.settings.is_table_matches(table))

    def _target(self, db: str, table: str) -> tuple[str, str]:
        """Target db/table renaming (reference config.py:300–316,
        tests/test_target_tables.py)."""
        if self.settings is None:
            return db, table
        return (self.settings.target_database(db),
                self.settings.target_table(table))

    # -- paths / metadata ---------------------------------------------------

    def _table_dir(self, db: str, table: str) -> str:
        return os.path.join(self.root, db, table)

    # -- data generations (commit-log manifest) -----------------------------
    #
    # Rewrites (compaction, MODIFY/CHANGE, truncate, re-snapshot) publish a
    # NEW generation directory and flip a tiny manifest pointer, instead of
    # rename-swapping the live ``data`` path (r4 verdict #8): a reader's
    # DataFrame pins the absolute file paths of the generation it resolved,
    # and a retired generation's files stay on disk until the NEXT rewrite
    # deletes them — so any read planned before a compaction still collects
    # correctly after it (snapshot isolation with a one-rewrite grace
    # window, the same retention idea as Delta's tombstoned files, built
    # from one atomic os.replace of a JSON pointer). CDC appends land in
    # the CURRENT generation dir — new files appearing under a pinned
    # listing are invisible to an in-flight reader, never an error.

    def _load_generations(self, db: str, table: str) -> dict:
        # mtime+size-keyed cache: _data_dir is on the hot apply path
        # (called several times per locked section) and the manifest can
        # only change through publish_generation, which rewrites the file
        # (fresh mtime). Stale reads are impossible for lock holders; a
        # racing reader at worst re-parses. (review r5 #7)
        root = self._table_dir(db, table)
        path = _gen_manifest_path_of(root)
        try:
            st_ = os.stat(path)
            key = (st_.st_mtime_ns, st_.st_size)
        except OSError:
            key = None
        cached = self._gen_cache.get(root)
        if cached is not None and cached[0] == key:
            return cached[1]
        g = load_gen_manifest(root)
        self._gen_cache[root] = (key, g)
        return g

    def _next_gen_name(self, db: str, table: str) -> str:
        return next_gen_name(self._table_dir(db, table))

    def _publish_generation(self, db: str, table: str, new_name: str,
                            meta: dict) -> None:
        """Publish ``new_name``; the retired generation keeps the
        ``file_schema`` that ``meta`` still records for it."""
        publish_generation(self._table_dir(db, table), new_name,
                           retention_s=self.generation_retention_s,
                           retired_schema=meta["file_schema"])

    def _data_dir(self, db: str, table: str) -> str:
        return os.path.join(self._table_dir(db, table),
                            self._load_generations(db, table)["current"])

    def _meta_path(self, db: str, table: str) -> str:
        return os.path.join(self._table_dir(db, table), "_meta.json")

    def table_exists(self, db: str, table: str) -> bool:
        return os.path.exists(self._meta_path(db, table))

    def databases(self) -> list[str]:
        return sorted(d for d in os.listdir(self.root)
                      if os.path.isdir(os.path.join(self.root, d))
                      and not d.endswith(".old"))

    def tables(self, db: str) -> list[str]:
        dbdir = os.path.join(self.root, db)
        if not os.path.isdir(dbdir):
            return []
        return sorted(t for t in os.listdir(dbdir)
                      if os.path.exists(self._meta_path(db, t)))

    def load_meta(self, db: str, table: str) -> dict:
        with open(self._meta_path(db, table), encoding="utf-8") as fh:
            return json.load(fh)

    def save_meta(self, db: str, table: str, meta: dict) -> None:
        os.makedirs(self._table_dir(db, table), exist_ok=True)
        _write_json(self._meta_path(db, table), meta,
                    ensure_ascii=False, indent=1)

    @contextlib.contextmanager
    def update_meta(self, db: str, table: str):
        """The one way to change a table's ``_meta.json``: takes the table
        lock, loads the meta (``{}`` before the table exists), yields it to
        be changed in place, and saves it only if it changed. A meta with
        no ``structure`` is not a table and is never saved (an optimizer
        stamp that lost a race with DROP TABLE). Updates must not nest:
        the outer save would overwrite the inner one, so code running
        inside an update changes the dict it was handed."""
        key = (db, table)
        with self.table_lock(db, table):
            if key in self._meta_updates:
                raise RuntimeError(f"nested update_meta of {db}.{table}")
            meta = (self.load_meta(db, table)
                    if self.table_exists(db, table) else {})
            before = copy.deepcopy(meta)
            self._meta_updates.add(key)
            try:
                yield meta
            finally:
                self._meta_updates.discard(key)
            if meta != before and "structure" in meta:
                self.save_meta(db, table, meta)

    def _declared_file_schema(self, st: TableStructure) -> dict:
        """``file_schema`` of files not written yet: the declared columns
        as the CDC apply writes them, then ``_version`` and ``_op``."""
        return _file_schema(
            [StructField(f.physical or f.name,
                         spark_type_for(f, self.types_mapping))
             for f in st.fields]
            + [StructField(VERSION_COL, LongType()),
               StructField(OP_COL, IntegerType())])

    def structure(self, db: str, table: str) -> TableStructure:
        return _structure_from_dict(self.load_meta(db, table)["structure"])

    # -- DDL replay watermark ----------------------------------------------

    def _db_meta_path(self, db: str) -> str:
        return os.path.join(self.root, db, "_db_meta.json")

    def last_ddl_seq(self, db: str) -> int:
        try:
            with open(self._db_meta_path(db), encoding="utf-8") as fh:
                return int(json.load(fh).get("last_ddl_seq", -1))
        except (FileNotFoundError, ValueError):
            return -1

    def _set_last_ddl_seq(self, db: str, seq: int) -> None:
        os.makedirs(os.path.join(self.root, db), exist_ok=True)
        _write_json(self._db_meta_path(db), {"last_ddl_seq": int(seq)})

    # -- DDL ----------------------------------------------------------------

    def create_table(self, db: str, create_sql: str) -> TableStructure:
        """D1/D2 — CREATE TABLE [LIKE]. The parsed (source) table name is
        filtered (F1) and mapped through ``target_tables`` before storage."""
        st = parse_create_table(create_sql)
        if self.settings is not None:
            if not self.settings.is_table_matches(st.table_name):
                return st
            st.table_name = self.settings.target_table(st.table_name)
        if getattr(st, "like_table", None):
            src = self.structure(db, st.like_table)
            st = TableStructure(fields=list(src.fields),
                                primary_keys=list(src.primary_keys),
                                table_name=st.table_name, charset=src.charset)
        # version counter starts at the configured initial value so a
        # rebuilt replica can slot ABOVE an existing one's version space
        # (reference version_initial_value, clickhouse_api.py:205)
        v0 = (self.settings.version_initial_value
              if self.settings is not None else 0)
        new = {"structure": _structure_to_dict(st),
               "last_version": v0, "last_seq": -1,
               "file_schema": self._declared_file_schema(st)}
        with self.update_meta(db, st.table_name) as meta:
            if meta:
                if "if not exists" in create_sql.lower():
                    return _structure_from_dict(meta["structure"])
                # re-CREATE over an existing table (at-least-once DDL
                # replay, or CREATE after an unseen DROP): resetting the
                # watermarks would break per-key version monotonicity over
                # the existing data, whose files keep their columns
                new["last_version"] = meta["last_version"]
                new["last_seq"] = meta["last_seq"]
                have = {f["name"] for f in meta["file_schema"]["fields"]}
                new["file_schema"]["fields"] = (
                    meta["file_schema"]["fields"]
                    + [f for f in new["file_schema"]["fields"]
                       if f["name"] not in have])
            meta.clear()
            meta.update(new)
        return st

    def execute_ddl(self, db: str, query: str, seq: int | None = None) -> None:
        """QUERY-event dispatch (reference db_replicator_realtime.py:179–266).
        The caller guarantees the flush-before-DDL barrier (row events with
        lower seq already applied). Source db/table names are pattern-filtered
        (F1) and mapped through the target renaming before touching storage."""
        if self.settings is not None and \
                not self.settings.is_database_matches(db):
            return
        tdb = self._target(db, "")[0]
        # DDL replay guard: foreachBatch is at-least-once, and unlike row
        # events (guarded per-table by last_seq) DDLs are not naturally
        # idempotent — a replayed RENAME/ALTER must be skipped, not
        # re-applied (the reference's state.pckl position serves the same
        # role, db_replicator.py:33–86)
        if seq is not None:
            if seq <= self.last_ddl_seq(tdb):
                return
        q = query.strip().lower()
        if q.startswith("create table"):
            self.create_table(tdb, query)
        elif q.startswith("alter table"):
            self._apply_alter(tdb, query)
        elif q.startswith("drop table"):
            names, if_exists = parse_drop_table(query)
            for name in names:
                name = self._target(db, name)[1]
                if self.table_exists(tdb, name):
                    with self.table_lock(tdb, name):
                        shutil.rmtree(self._table_dir(tdb, name))
                elif not if_exists:
                    raise ValueError(f"DROP TABLE: unknown table {name!r}")
        elif q.startswith("rename table"):
            for old, new in parse_rename_table(query):
                old, new = self._target(db, old)[1], self._target(db, new)[1]
                with self.table_lock(tdb, old):
                    with self.update_meta(tdb, old) as meta:
                        meta["structure"]["table_name"] = new
                    os.rename(self._table_dir(tdb, old),
                              self._table_dir(tdb, new))
        elif q.startswith("truncate"):
            name = self._target(db, parse_truncate_table(query))[1]
            if not self.table_exists(tdb, name):
                # TRUNCATE of a non-replicated/unknown table is skipped,
                # not an error (reference issue #155 regression tests,
                # tests/test_truncate_bug.py — both with and without the
                # TABLE keyword)
                if seq is not None:
                    self._set_last_ddl_seq(tdb, seq)
                return
            with self.table_lock(tdb, name):
                with self.update_meta(tdb, name) as meta:
                    if os.path.exists(self._data_dir(tdb, name)):
                        # truncate = publish an empty generation; in-flight
                        # readers of the old one keep their files a cycle
                        new_name = self._next_gen_name(tdb, name)
                        os.makedirs(os.path.join(self._table_dir(tdb, name),
                                                 new_name))
                        self._publish_generation(tdb, name, new_name, meta)
                    meta["file_schema"] = self._declared_file_schema(
                        _structure_from_dict(meta["structure"]))
                # maintained aggregates must reset with the table: their
                # seq watermark still equals the table's last_seq, so the
                # watermark-mismatch repair in apply_batch would never
                # fire and later deltas would merge onto the stale
                # pre-truncate view. Rebuild from the (now empty) table
                # immediately.
                for nm in meta.get("aggregates") or {}:
                    self._rebuild_aggregate(tdb, name, nm)
        # anything else (CREATE INDEX, SET, BEGIN...): ignored, like the
        # reference's pattern-matched dispatch
        if seq is not None:
            self._set_last_ddl_seq(tdb, seq)

    def _apply_alter(self, db: str, query: str) -> None:
        table, ops = parse_alter_table(query)
        table = self._target(db, table)[1]
        if not self.table_exists(db, table):
            return
        # the whole load-structure -> mutate -> save-meta sequence is one
        # meta update: a concurrent compaction normalizes the column
        # mapping (files rewritten to logical names + meta cleared), and
        # re-saving a stale in-memory mapping over that would make the
        # renamed column read NULL forever (review r5). A RENAME TO moves
        # the directory after the update has saved the new name.
        renamed = [op["new_name"] for op in ops if op["op"] == "rename_table"]
        with self.table_lock(db, table):
            with self.update_meta(db, table) as meta:
                rebuilt = self._apply_alter_locked(db, table, ops, meta)
            if renamed:
                os.rename(self._table_dir(db, table),
                          self._table_dir(db, renamed[-1]))
                table = renamed[-1]
            for nm in rebuilt:
                self._rebuild_aggregate(db, table, nm)

    def _apply_alter_locked(self, db: str, table: str, ops,
                            meta: dict) -> list[str]:
        """Apply ``ops`` to ``meta`` (the ALTER's update); returns the
        maintained aggregates to rebuild once it is saved."""
        st = _structure_from_dict(meta["structure"])
        for op in ops:
            kind = op["op"]
            if kind == "add_column":
                st.add_field(op["field"], first=op["first"], after=op["after"])
                self._add_file_column(st, op["field"].name, meta)
            elif kind == "drop_column":
                # its file_schema entry stays: old files still carry it
                st.remove_field(op["name"])
            elif kind == "modify_column":
                new_field = dataclasses.replace(
                    op["field"], physical=st.field(op["field"].name).physical)
                st.update_field(new_field)
                self._rewrite_with_structure(db, table, st, meta)
            elif kind == "change_column":
                old = op["old_name"]
                # the rewrite must read the OLD physical column; the new
                # field inherits it for the read, and the rewrite then
                # normalizes every mapping away
                new_field = dataclasses.replace(
                    op["field"], physical=st.field(old).physical or old)
                if old != new_field.name:
                    st.rename_field(old, new_field.name)
                st.update_field(new_field)
                self._rewrite_with_structure(db, table, st, meta)
            elif kind == "rename_column":
                # METADATA-ONLY (Delta-style column mapping): the data
                # keeps its physical column; only the logical name and the
                # mapping change. No O(table) rewrite (r4 verdict missing
                # #2); the next MODIFY/CHANGE/optimize rewrite normalizes.
                fld = st.field(op["old_name"])
                phys = fld.physical or op["old_name"]
                st.rename_field(op["old_name"], op["new_name"])
                st.field(op["new_name"]).physical = phys
            elif kind == "rename_table":
                st.table_name = op["new_name"]
        meta["structure"] = _structure_to_dict(st)
        # maintained aggregates must track schema evolution: follow column
        # renames; drop the view if a referenced column was dropped (its
        # definition can no longer be evaluated — silently keeping a stale
        # spec would poison the next batch's delta)
        renames = {op["old_name"]: op["new_name"] for op in ops
                   if op["op"] == "rename_column"}
        renames.update({op["old_name"]: op["field"].name for op in ops
                        if op["op"] == "change_column"
                        and op["old_name"] != op["field"].name})
        rebuilt = []
        if meta.get("aggregates"):
            live = {f.name for f in st.fields}
            kept = {}
            for nm, spec in meta["aggregates"].items():
                new_spec = {
                    "group": renames.get(spec["group"], spec["group"]),
                    "value": renames.get(spec["value"], spec["value"])}
                if new_spec["group"] in live and new_spec["value"] in live:
                    kept[nm] = new_spec
                    if new_spec != spec:
                        rebuilt.append(nm)  # stored parquet has old names
                else:
                    shutil.rmtree(self._agg_dir(db, table, nm),
                                  ignore_errors=True)
            meta["aggregates"] = kept
        return rebuilt

    def _has_data(self, db: str, table: str) -> bool:
        d = self._data_dir(db, table)
        if not os.path.isdir(d):
            return False
        # partitioned tables nest part files under key=value subdirs
        return any(f.endswith(".parquet")
                   for _, _, files in os.walk(d) for f in files)

    def _add_file_column(self, st: TableStructure, name: str,
                         meta: dict) -> None:
        """ADD COLUMN: give the column its file name and its ``file_schema``
        entry. A name matching a stale PHYSICAL column (a column renamed
        away from this name, or dropped with its bytes still in old files,
        whose entry stays) gets a fresh physical name — otherwise reads
        would resurrect the old column's values into the new one."""
        taken = {f.physical or f.name for f in st.fields if f.name != name}
        taken |= {f["name"] for f in meta["file_schema"]["fields"]}
        fld = st.field(name)
        if name in taken:
            i = 1
            while f"{name}__p{i}" in taken:
                i += 1
            fld.physical = f"{name}__p{i}"
        meta["file_schema"]["fields"].append(StructField(
            fld.physical or name,
            spark_type_for(fld, self.types_mapping)).jsonValue())

    def _rewrite_with_structure(self, db: str, table: str,
                                st: TableStructure, meta: dict) -> None:
        """MODIFY/CHANGE type change: cast-rewrite (SURVEY.md §2.5 D8).
        Reads through the column mapping and writes logical names, so it
        doubles as the mapping-normalization point. Records the rewrite in
        ``meta``, the ALTER's own update."""
        if not self._has_data(db, table):
            for f in st.fields:
                f.physical = None
            meta["file_schema"] = self._declared_file_schema(st)
            return
        df = self._live_frame(db, table, meta)
        self._overwrite_data(
            db, table, df.select(*self._declared_exprs(st, df.columns)), meta)
        for f in st.fields:   # files are logical-named again
            f.physical = None

    def _declared_exprs(self, st: TableStructure, file_cols,
                        defaults: bool = False) -> list[Column]:
        """The declared columns under their logical names, each read from
        its file column through the column mapping and cast to its
        declared type, NULL where ``file_cols`` lacks it (added after the
        files were written); with ``defaults`` a NOT NULL column's NULLs
        read as its default. Then ``_version`` and ``_op``."""
        exprs = []
        for f in st.fields:
            target = spark_type_for(f, self.types_mapping).simpleString()
            phys = f.physical or f.name
            c = (F.col(phys).try_cast(target) if phys in file_cols
                 else F.lit(None).cast(target))
            if defaults and not f.nullable:
                c = F.coalesce(c, default_for(f))
            exprs.append(c.alias(f.name))
        return exprs + [F.col(VERSION_COL), F.col(OP_COL)]

    def _partition_cols(self, table: str) -> list[str]:
        """S8 — per-table physical partitioning override (reference
        ``partition_bys`` config, clickhouse_api.py:243–259): becomes parquet
        directory partitioning → partition pruning on the replica scans."""
        if self.settings is None:
            return []
        return self.settings.partition_by_for(table)

    def _writer_options(self, table: str, st: TableStructure,
                        df_cols) -> dict[str, str]:
        """The parquet writer options of every write of replica data: the
        CDC append, each rewrite (snapshot, compaction, MODIFY/CHANGE),
        each shard of a sharded snapshot and each maintained-aggregate
        generation. ZSTD at Spark's default level for every column (the
        reference's MergeTree parts store each column compressed; against
        snappy it cuts replica bytes per row by about a third), plus the
        bloom filters of ``_index_options`` for the columns ``df_cols``
        carries. Set per writer, so index files and user writes keep the
        session codec."""
        return {"compression": "zstd",
                **self._index_options(table, st, df_cols)}

    def _index_options(self, table: str, st: TableStructure,
                      df_cols) -> dict[str, str]:
        """S8 — skip-index analog (reference ``indexes`` override +
        defaults, clickhouse_api.py:253–261: bloom_filter on a single PK,
        minmax on _version). Parquet keeps min/max column statistics for
        every column already (the minmax index is free); the bloom_filter
        becomes a per-column parquet bloom filter via the writer option
        ``parquet.bloom.filter.enabled#<col>`` — point-lookup row-group
        skipping on the replica scans.

        Any bloom column also turns on ``parquet.bloom.filter.adaptive.
        enabled`` (global: the per-column ``#col`` form has no effect), so
        each filter is sized to the distinct values its file holds rather
        than parquet's 1M-NDV default: an 1800-row CDC append otherwise
        carries a ~1 MB filter beside ~80 KB of data."""
        cols = []
        if len(st.primary_keys) == 1:
            cols.append(st.primary_keys[0])
        if self.settings is not None:
            cols += self.settings.indexes_for(table)
        # options are declared on logical names; parquet wants the file
        # (physical) column — identical unless a rename is mapped. The
        # membership check keeps options honest either way (a frame mid-
        # normalizing rewrite carries logical names and simply skips).
        phys_of = {f.name: (f.physical or f.name) for f in st.fields}
        opts = {f"parquet.bloom.filter.enabled#{phys_of.get(c, c)}": "true"
                for c in dict.fromkeys(cols)
                if phys_of.get(c, c) in set(df_cols)}
        if opts:
            opts["parquet.bloom.filter.adaptive.enabled"] = "true"
        return opts

    def _overwrite_data(self, db: str, table: str, df: DataFrame,
                        meta: dict) -> None:
        """Rewrite by publishing a NEW data generation (D14 — readers never
        see partial data; reference's db-swap,
        db_replicator_initial.py:149–163, upgraded to the commit-log
        manifest so in-flight readers of the old generation keep their
        files), recorded in ``meta``. The caller's update holds the table
        lock: concurrent CDC appends must not land between the rewrite's
        read and its publish (they would be stranded in the retired
        generation)."""
        new_name = self._next_gen_name(db, table)
        new_dir = os.path.join(self._table_dir(db, table), new_name)
        writer = df.write.mode("overwrite").options(**self._writer_options(
            table, _structure_from_dict(meta["structure"]), df.columns))
        parts = [c for c in self._partition_cols(table) if c in df.columns]
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(new_dir)
        # df's plan reads the OLD generation and the write above is its
        # only action — publish strictly after it completes
        self._publish_generation(db, table, new_name, meta)
        _record_rewrite(meta, df)

    def vacuum(self, db: str, table: str,
               retention_s: float | None = None,
               now: float | None = None) -> None:
        """Reclaim retired generations older than ``retention_s`` (default:
        the engine's retention) without publishing a new one — the Delta
        VACUUM analog for ops that want space back sooner than the next
        rewrite. ``retention_s=0`` force-reclaims everything retired;
        in-flight readers older than the chosen window may fail, exactly
        like an aggressive VACUUM. ``now`` is the scheduler-injectable
        clock reading (defaults to wall time)."""
        with self.table_lock(db, table):
            root = self._table_dir(db, table)
            publish_generation(
                root, load_gen_manifest(root)["current"],
                retention_s=self.generation_retention_s
                if retention_s is None else retention_s,
                now=now)

    # -- database-level atomic publish (D14 full analog) --------------------

    def _publish_marker(self, db: str) -> str:
        return os.path.join(self.root, f"_publish_{db}.json")

    def publish_database(self, staging_db: str, db: str) -> None:
        """Database-level atomic snapshot publish: the reference snapshots a
        whole database into ``{db}_tmp`` and swaps it live with one RENAME
        (db_replicator_initial.py:149–163), so a multi-table initial
        snapshot is never observed half-published. Same protocol here at
        the directory level: snapshot every table under ``staging_db`` with
        the normal APIs, then one ``publish_database`` call makes them all
        visible at once.

        Crash-safe via an intent marker written (atomically) BEFORE the
        swap: the marker asserts "staging is complete", so recovery rolls
        the swap FORWARD; without a marker an orphaned staging database is
        an incomplete snapshot and is dropped (``recover_databases``).

        Concurrency: one publisher per database at a time (reference has
        exactly one db_replicator process per database — same single-writer
        assumption). The one benign race — a second engine constructed on
        the same root mid-publish runs ``recover_databases`` and rolls the
        marked swap forward FIRST — is tolerated: once the marker is down,
        "staging gone + target present" IS the published state, so the
        publisher treats its own lost rename as completed-by-recovery."""
        staging = os.path.join(self.root, staging_db)
        target = os.path.join(self.root, db)
        if not os.path.isdir(staging):
            raise ValueError(f"staging database {staging_db!r} not found")
        marker = self._publish_marker(db)
        _write_json(marker, {"staging": staging_db})
        old = target + ".old"
        shutil.rmtree(old, ignore_errors=True)
        try:
            if os.path.isdir(target) and os.path.isdir(staging):
                os.rename(target, old)
            os.rename(staging, target)
        except FileNotFoundError:
            # recover_databases() in a concurrently-constructed engine saw
            # the marker and completed the swap first; by the marker
            # contract that outcome is identical to ours.
            if os.path.isdir(staging) or not os.path.isdir(target):
                raise
        shutil.rmtree(old, ignore_errors=True)
        try:
            os.remove(marker)
        except FileNotFoundError:
            pass  # recovery already consumed it

    def recover_databases(self) -> None:
        """Finish (or clean up after) a database publish interrupted at any
        point. Marker present + staging present → the swap never completed:
        re-run it (staging was complete by contract). Marker present +
        staging gone → the swap itself finished; drop leftovers. Superseded
        ``.old`` databases next to a live one are removed either way."""
        for fn in list(os.listdir(self.root)):
            if not (fn.startswith("_publish_") and fn.endswith(".json")):
                continue
            db = fn[len("_publish_"):-len(".json")]
            marker = os.path.join(self.root, fn)
            try:
                with open(marker, encoding="utf-8") as fh:
                    staging_db = json.load(fh)["staging"]
            except (OSError, ValueError, KeyError):
                os.remove(marker)
                continue
            staging = os.path.join(self.root, staging_db)
            target = os.path.join(self.root, db)
            old = target + ".old"
            if os.path.isdir(staging):
                if os.path.isdir(target):  # crash before rename(target, old)
                    shutil.rmtree(old, ignore_errors=True)
                    os.rename(target, old)
                os.rename(staging, target)
            shutil.rmtree(old, ignore_errors=True)
            os.remove(marker)

    # -- snapshot (S1 → F4 → K4 → S5) ---------------------------------------

    def _snapshot_frame(self, st: TableStructure, df: DataFrame,
                        snap_v: int) -> DataFrame:
        """A snapshot's rows as version peers at ``snap_v`` with every
        declared column in its declared type, NULL where ``df`` lacks it:
        its ``file_schema`` entry stays, so later CDC values of it read
        back, and the files match the CDC appends' types (an ``int``
        frame column of a declared ``bigint`` would leave INT32 and INT64
        files in one generation, which no read can merge)."""
        have = {c.name: c.dataType for c in df.schema.fields}

        def column(f):
            t = spark_type_for(f, self.types_mapping)
            if have.get(f.name) == t:
                return F.col(f.name)
            src = F.col(f.name) if f.name in have else F.lit(None)
            return src.cast(t).alias(f.name)

        return df.select(*map(column, st.fields), F.lit(snap_v).cast(
            "long").alias(VERSION_COL), F.lit(OP_ADD).alias(OP_COL))

    def snapshot_table(self, db: str, table: str, df: DataFrame) -> None:
        """Initial replication of an already-typed DataFrame (JDBC/parquet
        snapshot). All snapshot rows are version-peers at version 1
        (operators/replica.py stamp_version_snapshot rationale)."""
        with self.update_meta(db, table) as meta:
            st = _structure_from_dict(meta["structure"])
            snap_v = int(meta["last_version"]) + 1  # v0+1 on a fresh table
            self._overwrite_data(db, table,
                                 self._snapshot_frame(st, df, snap_v), meta)
            meta["last_version"] = snap_v
        # post_initial_replication_commands — arbitrary SQL after the
        # snapshot publishes (reference config.py:330–337,
        # db_replicator_initial.py:472–494)
        if self.settings is not None:
            for cmd in self.settings.post_initial_replication_commands:
                self.spark.sql(cmd)

    def snapshot_table_sharded(self, db: str, table: str, df: DataFrame,
                               workers: int | None = None) -> None:
        """Parallel initial replication (S1 sharded): ``workers`` concurrent
        Spark jobs each snapshot one CRC32(pk)%N shard — the reference's
        worker processes (db_replicator_initial.py:386–448,
        ``initial_replication_threads``) mapped onto one Spark app running
        N jobs from a thread pool. Each worker writes its own shard dir
        (concurrent appends into one parquet dir would share the
        ``_temporary`` staging path and clobber each other); consolidation
        renames shard files into a fresh generation dir and publishes it
        with the SAME manifest protocol as ``_overwrite_data`` — so a
        re-snapshot replaces stale rows instead of merging with them, and
        a crash or concurrent reader mid-consolidation never observes a
        partial snapshot (an unpublished generation is invisible). Every
        shard stamps ``snap_v``, so the publish's one meta update sets the
        version watermark to it directly, as ``snapshot_table`` does (the
        reference reconciles it from MAX(_version) after its workers,
        db_replicator_initial.py:450–470). Shard writers carry the same
        partitionBy and writer options as ``snapshot_table`` (S8
        parity)."""
        from concurrent.futures import ThreadPoolExecutor

        from .sources.snapshot import sharded_snapshot

        if workers is None:
            workers = (self.settings.initial_replication_threads
                       if self.settings is not None else 1)
        if workers <= 1:
            return self.snapshot_table(db, table, df)
        st = self.structure(db, table)
        data = self._data_dir(db, table)
        snap_v = int(self.load_meta(db, table)["last_version"]) + 1
        out = self._snapshot_frame(st, df, snap_v)
        opts = self._writer_options(table, st, out.columns)
        parts = [c for c in self._partition_cols(table) if c in out.columns]

        def write_shard(w: int) -> str:
            shard_dir = f"{data}.shard{w}"
            shutil.rmtree(shard_dir, ignore_errors=True)
            writer = (sharded_snapshot(out, st.primary_keys, w, workers)
                      .write.mode("overwrite").options(**opts))
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(shard_dir)
            return shard_dir

        with ThreadPoolExecutor(max_workers=workers) as ex:
            shard_dirs = list(ex.map(write_shard, range(workers)))
        # Consolidate into a fresh generation dir (rename-only, preserving
        # any partition subdirs), then the same manifest publish as
        # _overwrite_data — inside the meta update, which holds the
        # table lock, so a concurrent CDC append cannot land in the old
        # generation between consolidation and the flip and be silently
        # lost (review r5).
        with self.update_meta(db, table) as meta:
            new_name = self._next_gen_name(db, table)
            new_dir = os.path.join(self._table_dir(db, table), new_name)
            os.makedirs(new_dir)
            for w, shard_dir in enumerate(shard_dirs):
                for sub, _dirs, files in os.walk(shard_dir):
                    rel = os.path.relpath(sub, shard_dir)
                    dest = new_dir if rel == "." \
                        else os.path.join(new_dir, rel)
                    for fn in files:
                        if not fn.endswith(".parquet"):
                            continue
                        os.makedirs(dest, exist_ok=True)
                        os.rename(os.path.join(sub, fn),
                                  os.path.join(dest, f"shard{w}-{fn}"))
                shutil.rmtree(shard_dir)
            self._publish_generation(db, table, new_name, meta)
            _record_rewrite(meta, out)  # every shard wrote out's columns
            meta["last_version"] = max(snap_v, int(meta["last_version"]))

    # -- reads (S7) ---------------------------------------------------------

    def list_generations(self, db: str, table: str) -> list[dict]:
        """The table's readable data generations, newest first:
        ``[{name, current, retired_ts}]`` — the current generation plus
        every retired one whose files retention still holds on disk.
        The time-travel catalog: any listed name is valid for
        ``read_raw``/``read_final``'s ``generation`` argument."""
        root = self._table_dir(db, table)
        g = load_gen_manifest(root)
        out = []
        if os.path.isdir(os.path.join(root, g["current"])):
            out.append({"name": g["current"], "current": True,
                        "retired_ts": None})
        for r in sorted(_retired_entries(g), key=lambda r: -r["ts"]):
            if os.path.isdir(os.path.join(root, r["name"])):
                out.append({"name": r["name"], "current": False,
                            "retired_ts": r["ts"]})
        return out

    def _live_frame(self, db: str, table: str, meta: dict) -> DataFrame:
        """The live generation, read with the schema its writers recorded
        (``meta["file_schema"]``): no inference job, and a partition
        column keeps its written type instead of one guessed from its
        directory names."""
        return self.spark.read.schema(
            StructType.fromJson(meta["file_schema"])).parquet(
                self._data_dir(db, table))

    def _generation_frame(self, db: str, table: str, meta: dict,
                          generation: str, gdir: str) -> DataFrame:
        """Generation ``generation`` (files in ``gdir``), read with the
        ``file_schema`` recorded for it: the meta's for the current one,
        its manifest entry's for a retired one. An entry retired before
        entries recorded it is inferred (``mergeSchema``); retention
        reclaims such entries."""
        g = self._load_generations(db, table)
        schema = meta["file_schema"] if generation == g["current"] else next(
            (r.get("file_schema") for r in _retired_entries(g)
             if r["name"] == generation), None)
        reader = self.spark.read
        reader = (reader.schema(StructType.fromJson(schema)) if schema
                  else reader.option("mergeSchema", "true"))
        return reader.parquet(gdir)

    def read_raw(self, db: str, table: str,
                 generation: str | None = None) -> DataFrame:
        # Structure AND file listing are taken atomically under the table
        # lock: the generation resolved here cannot be retired mid-listing,
        # and the column mapping cannot be normalized between structure
        # load and listing (a stale mapping against rewritten files would
        # silently read a renamed column as NULL — review r5). Once built,
        # the frame pins concrete file paths that retention keeps alive
        # for GENERATION_RETENTION_S after any subsequent rewrite.
        #
        # ``generation`` reads a RETIRED generation by name (time travel
        # ACROSS rewrites): read_asof reconstructs any _version from the
        # current data, but an OPTIMIZE collapses history away — the
        # retired generation directory is then the only copy of the
        # pre-rewrite state, readable until retention reclaims it
        # (list_generations shows what is still on disk). Rows come back
        # under the CURRENT structure mapping — columns added since read
        # as NULL, renamed columns resolve through their physical name —
        # the same contract as reading old files in the live table.
        with self.table_lock(db, table):
            meta = self.load_meta(db, table)
            st = _structure_from_dict(meta["structure"])
            if generation is not None:
                gdir = os.path.join(self._table_dir(db, table), generation)
                if not os.path.isdir(gdir):
                    raise ValueError(
                        f"generation {generation!r} of {db}.{table} is not "
                        f"on disk (never published, or reclaimed by "
                        f"retention) — list_generations() shows what is "
                        f"readable")
                df = self._generation_frame(db, table, meta, generation,
                                            gdir)
            elif not self._has_data(db, table):
                df = self.spark.createDataFrame(
                    [], StructType.fromJson(meta["file_schema"]))
            else:
                df = self._live_frame(db, table, meta)
        return df.select(*self._declared_exprs(st, df.columns, True))

    def read_final(self, db: str, table: str,
                   generation: str | None = None) -> DataFrame:
        """The replica as queries see it: latest version per PK, deletes
        applied — ClickHouse ``SELECT ... SETTINGS final=1``. With
        ``generation``, the FINAL state of a retired generation (time
        travel across rewrites — see read_raw)."""
        st = self.structure(db, table)
        return dedup_final_ops(self.read_raw(db, table, generation),
                               st.primary_keys, op_col=OP_COL)

    def repair_table(self, db: str, table: str, source: DataFrame,
                     n_buckets: int = 64) -> dict:
        """Anti-entropy ranged repair — the DATA twin of
        ``verify_structure`` (D15): compare the replica's FINAL state to
        the source table at PK-hash-bucket granularity (Merkle-lite:
        per-bucket count+checksum digests, B rows per side), then
        converge ONLY the diverged buckets by appending a synthetic CDC
        delta through the normal versioned apply path — tombstones for
        rows the source no longer has, upserts for every source row in a
        bad bucket. The reference's answer to divergence is a full
        re-snapshot (db_replicator_initial.py — drop and recopy); at
        100 TB the honest repair moves O(diverged buckets), not O(table),
        and readers never see a partial state (latest-wins versioning,
        same guarantees as any CDC batch).

        Values serialize through ``CAST AS STRING`` — the event-log
        payload convention — so types whose textual form round-trips
        (ints, strings, decimals, dates, datetimes) repair losslessly;
        the repair delta re-enters ``apply_batch`` exactly like an
        ingested batch. Returns {"buckets", "removed", "upserted"}."""
        from .operators.replica import bucket_expr, diverged_buckets
        from .sources.event_log import EVENT_TYPE_ADD, EVENT_TYPE_REMOVE

        st = self.structure(db, table)
        cols = [f.name for f in st.fields]
        pks = st.primary_keys
        replica = self.read_final(db, table).select(*cols)
        src = source.select(*cols)
        bad = sorted(r.bucket for r in
                     diverged_buckets(src, replica, pks, n_buckets)
                     .collect())
        if not bad:
            return {"buckets": [], "removed": 0, "upserted": 0}
        b = bucket_expr(pks, n_buckets)
        # the bucket-filtered frames are diff-sized; eagerly checkpoint
        # them so the delta construction, the report counts and the
        # apply below each read cached blocks instead of re-running the
        # two full table scans per consumer (total source-side cost: one
        # digest scan + one extract scan, the anti-entropy minimum)
        src_bad = src.where(b.isin(bad)).localCheckpoint(eager=True)
        rep_bad = replica.where(b.isin(bad)).localCheckpoint(eager=True)
        removes = rep_bad.join(src_bad.select(*pks), pks, "left_anti")
        base = int(self.load_meta(db, table)["last_seq"]) + 1

        def event_frame(df, seq, etype, payload_cols):
            payload = F.array(F.array(*[
                F.col(c).cast("string") for c in payload_cols]))
            return df.select(
                F.lit("repair").alias("tx_file"),
                F.lit(seq).cast("long").alias("tx_pos"),
                F.lit(seq).cast("long").alias("seq"),
                F.lit(db).alias("db"),
                F.lit(table).alias("table"),
                F.lit(etype).cast("int").alias("event_type"),
                payload.alias("payload"),
                F.lit(None).cast("string").alias("query"))

        # removes first (lower seq): a PK appears in at most one side, so
        # ordering only matters for determinism of the version stamps
        delta = event_frame(removes, base, EVENT_TYPE_REMOVE, pks) \
            .unionByName(event_frame(src_bad, base + 1, EVENT_TYPE_ADD,
                                     cols))
        n_removed = removes.count()
        n_upserted = src_bad.count()
        self.apply_batch(delta)
        return {"buckets": bad, "removed": n_removed,
                "upserted": n_upserted}

    def read_asof(self, db: str, table: str, version: int) -> DataFrame:
        """Time travel: the table as it stood when ``last_version`` was
        ``version`` — filter the append-only store to ``_version <= v``
        and dedup (tombstones up to v apply). Free on this storage design
        (ClickHouse ReplacingMergeTree cannot answer it); reaches back to
        the last ``optimize()``, which collapses history like a Delta
        VACUUM. The version filter prunes at the parquet scan."""
        st = self.structure(db, table)
        hist = self.read_raw(db, table) \
            .where(F.col(VERSION_COL) <= F.lit(int(version)))
        return dedup_final_ops(hist, st.primary_keys, op_col=OP_COL)

    # -- maintained aggregates (incremental materialized views) -------------

    def _agg_dir(self, db: str, table: str, name: str) -> str:
        return os.path.join(self._table_dir(db, table), f"_agg_{name}")

    def register_aggregate(self, db: str, table: str, name: str,
                           group_col: str, value_col: str) -> None:
        """Maintain ``SELECT group, count(*), sum(value)`` over the FINAL
        state of ``table`` incrementally: each CDC batch advances the view
        by delta arithmetic (operators/incremental_agg) instead of
        re-reading the replica with FINAL per query — the scale answer to
        the reference's query-time recompute (clickhouse_api.py:107).
        The view is parquet next to the table; read with
        ``read_aggregate``. Crash-safe: a view whose seq watermark
        disagrees with the table's is rebuilt from scratch on the next
        batch (repair path = the from-scratch definition, so the two can
        never drift)."""
        st = self.structure(db, table)
        names = {f.name for f in st.fields}
        if group_col not in names or value_col not in names:
            raise ValueError(f"unknown column for aggregate {name}")
        with self.update_meta(db, table) as meta:
            meta.setdefault("aggregates", {})[name] = {
                "group": group_col, "value": value_col}
        self._rebuild_aggregate(db, table, name)

    def read_aggregate(self, db: str, table: str, name: str) -> DataFrame:
        root = self._agg_dir(db, table, name)
        return self.spark.read.parquet(
            os.path.join(root, load_gen_manifest(root)["current"]))

    def _agg_state_path(self, db: str, table: str, name: str) -> str:
        return os.path.join(self._agg_dir(db, table, name), "state.json")

    def _agg_last_seq(self, db: str, table: str, name: str) -> int:
        try:
            with open(self._agg_state_path(db, table, name),
                      encoding="utf-8") as fh:
                return int(json.load(fh)["last_seq"])
        except (OSError, ValueError, KeyError):
            return -(10 ** 18)  # unknown → forces rebuild

    def _write_aggregate(self, db: str, table: str, name: str,
                         df: DataFrame, last_seq: int) -> None:
        # same manifest protocol as table data: a reader mid-merge keeps
        # the files of the generation it resolved
        root = self._agg_dir(db, table, name)
        os.makedirs(root, exist_ok=True)
        new_name = next_gen_name(root)
        df.write.mode("overwrite").options(**self._writer_options(
            table, self.structure(db, table), df.columns)) \
            .parquet(os.path.join(root, new_name))
        publish_generation(root, new_name,
                           retention_s=self.generation_retention_s)
        _write_json(self._agg_state_path(db, table, name),
                    {"last_seq": last_seq})

    def _rebuild_aggregate(self, db: str, table: str, name: str) -> None:
        from .operators.incremental_agg import agg_of
        spec = self.load_meta(db, table)["aggregates"][name]
        view = agg_of(self.read_final(db, table), spec["group"],
                      spec["value"])
        self._write_aggregate(db, table, name, view,
                              int(self.load_meta(db, table)["last_seq"]))

    # -- CDC apply (K1–K4, F2–F5) ------------------------------------------

    def apply_batch(self, events: DataFrame) -> None:
        """foreachBatch body. Row events are applied per (db, table) with
        in-batch collapse; QUERY events form barriers: rows before a DDL are
        flushed first (reference db_replicator_realtime.py:179–196).

        Fixed cost per micro-batch is what bounds streaming latency (the
        data volume is small by construction — flush cadence), so the
        driver work is budgeted in Spark JOBS: one combined metadata
        aggregate (DDL list + touched tables), then ONE write action per
        (table, segment) with the batch stats attached via ``observe``.
        A DDL-free batch to one table is therefore two jobs.

        A batch of at most ``_ONE_TASK_MAX_BYTES`` runs the metadata
        aggregate and the collapse over ``coalesce(1)``, so neither plans
        a shuffle, and is cached only when it feeds more than one write.
        A larger batch (catch-up, a backfill) is cached up front and keeps
        the shuffled collapse, which parses on every core."""
        import time as _time
        t0 = _time.monotonic()
        self._batch_inserts = 0
        self._batch_erases = 0
        # Catalyst's size estimate is the listed input-file bytes for a
        # file scan, and huge when unknown
        size = int(events._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
        small = size <= _ONE_TASK_MAX_BYTES
        # a small batch is not cached, so its metadata job and its write
        # each scan the input; a large one is cached before both
        events = events.coalesce(1) if small else events.persist()
        try:
            # ONE job finds every (db, table) touched AND every DDL with
            # its seq/query (collect_list skips the NULL the `when` yields
            # for row events, so row groups carry an empty list, O(1) each)
            groups = (events.groupBy("db", "table", "event_type")
                      .agg(F.collect_list(
                          F.when(F.col("event_type") == EVENT_TYPE_QUERY,
                                 F.struct("seq", "query"))).alias("dq"),
                           F.min("seq").alias("min_seq"),
                           F.max("seq").alias("max_seq"))
                      .collect())
            ddls = sorted((d.seq, g.db, d.query)
                          for g in groups if g.event_type == EVENT_TYPE_QUERY
                          for d in g.dq)
            # replay fast-path: a (db, table) whose newest seq is already
            # committed has nothing to apply — skip its write job entirely
            # (restart replays whole files; this makes them metadata-only).
            # The per-table [min_seq, max_seq] also prunes DDL segments a
            # table has no events in (overlap test below) — without it,
            # every segment of a DDL-bearing batch pays a write job per
            # table even when empty.
            bounds_by_table: dict[tuple[str, str], tuple[int, int]] = {}
            for g in groups:
                if g.event_type != EVENT_TYPE_QUERY:
                    key = (g.db, g.table)
                    mn, mx = bounds_by_table.get(key, (1 << 62, -1))
                    bounds_by_table[key] = (min(mn, int(g.min_seq)),
                                            max(mx, int(g.max_seq)))
            pairs = []
            for db, table in sorted(bounds_by_table):
                tdb, ttable = self._target(db, table)
                if not self.table_exists(tdb, ttable):
                    pairs.append((db, table))  # routing decides later
                    continue
                if bounds_by_table[(db, table)][1] > self.load_meta(
                        tdb, ttable)["last_seq"]:
                    pairs.append((db, table))
            bounds = [-1] + [d[0] for d in ddls] + [None]
            segments = [(lo, hi, [p for p in pairs
                                  if bounds_by_table[p][1] > lo
                                  and (hi is None
                                       or bounds_by_table[p][0] < hi)])
                        for lo, hi in zip(bounds, bounds[1:])]
            if small and sum(len(sp) for _, _, sp in segments) > 1:
                # several writes would each re-scan the input: the first
                # fills the cache (the metadata job ran uncached)
                events = events.persist()
            rows = explode_row_events(events)
            if len(ddls) > 1:
                rows = rows.persist()  # re-filtered once per segment
            for i, (lo, hi, seg_pairs) in enumerate(segments):
                self._apply_row_segment(rows, seg_pairs, lo, hi)
                if hi is not None:
                    seq, db, query = ddls[i]
                    self.execute_ddl(db, query, seq=seq)
            if len(ddls) > 1:
                rows.unpersist()
        finally:
            events.unpersist()
        # A4 — throughput counters (reference db_replicator.py:21–30)
        self.stats.record_batch(self._batch_inserts, self._batch_erases,
                                len(ddls), _time.monotonic() - t0)

    def _apply_row_segment(self, rows: DataFrame,
                           pairs: list[tuple[str, str]],
                           lo: int, hi: int | None) -> None:
        """Apply the rows with ``lo < seq < hi`` (no upper bound when
        ``hi`` is None) of each (db, table) in ``pairs``."""
        in_segment = F.col("seq") > lo
        if hi is not None:
            in_segment = in_segment & (F.col("seq") < hi)
        work: list[tuple[str, str, DataFrame]] = []
        for db, table in pairs:
            if not self._replicates(db, table):
                continue  # F1 — pattern-excluded
            tdb, ttable = self._target(db, table)
            if not self.table_exists(tdb, ttable):
                continue  # not replicated (no CREATE seen)
            work.append((tdb, ttable,
                         rows.where(in_segment & (F.col("db") == db)
                                    & (F.col("table") == table))))
        n_workers = min(len(work), max(1, int(self.apply_parallelism)))
        if n_workers <= 1:
            for tdb, ttable, trows in work:
                self._apply_table_rows(tdb, ttable, trows)
            return
        # Overlap the per-table write jobs: each thread drives its own
        # Spark actions against independent table dirs (per-table lock
        # still serializes vs compaction). Futures are drained in order so
        # the first failure propagates and the segment stays all-or-retry.
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=n_workers,
                thread_name_prefix="apply-table") as pool:
            futures = [pool.submit(self._apply_table_rows, tdb, ttable, trows)
                       for tdb, ttable, trows in work]
            for fut in futures:
                fut.result()

    def _apply_table_rows(self, db: str, table: str, rows: DataFrame) -> None:
        # under the table lock: the append (and its meta watermark update)
        # must not interleave with a compaction's read→swap window
        with self.table_lock(db, table):
            with self.update_meta(db, table) as meta:
                deltas = self._apply_table_rows_locked(db, table, rows, meta)
            # maintained views advance after the table's watermark is
            # saved: a crash in between leaves a view whose seq watermark
            # disagrees with the table's, which the next batch rebuilds
            if deltas:
                from .operators.incremental_agg import merge_agg
                for nm, spec in meta["aggregates"].items():
                    merged = merge_agg(self.read_aggregate(db, table, nm),
                                       deltas[nm], spec["group"])
                    self._write_aggregate(db, table, nm, merged,
                                          int(meta["last_seq"]))

    def _apply_plan(self, db: str, table: str, meta: dict) -> _ApplyPlan:
        """The table's cached ``_ApplyPlan``, rebuilt when
        ``meta["structure"]`` differs from the one it was built for (any
        DDL). The caller holds the table lock."""
        token = json.dumps(meta["structure"], sort_keys=True)
        plan = self._apply_plans.get((db, table))
        if plan is not None and plan.token == token:
            return plan
        st = _structure_from_dict(meta["structure"])
        pks = st.primary_keys
        # REMOVE payloads are PK-only, packed in primary_keys order —
        # payload_exprs reads them PK-relative (writer contract,
        # sources/event_log.py remove())
        typed = [F.col("seq"), F.col("idx"), F.col("event_type"),
                 *payload_exprs(st, "record",
                                mysql_timezone=self.mysql_timezone,
                                types_mapping=self.types_mapping,
                                remove_op_col="event_type",
                                remove_op_value=OP_REMOVE)]
        # K1/K2 — final op per key (ADD↔REMOVE annihilation)
        winner, final_ops = collapse_exprs(
            ["seq", "idx", "event_type", *st.field_names], pks,
            seq_col=F.struct(F.col("seq"), F.col("idx")))
        op = F.col("__w.event_type")
        stats = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(op == OP_ADD, 1).otherwise(0)).alias("n_add"),
            F.max("__w.seq").alias("mx")]
        # REMOVE rows become PK-only tombstones (F5 — only PKs converted
        # meaningfully; non-PK columns nulled). Column mapping: files carry
        # PHYSICAL names (identical to logical unless a metadata-only
        # rename happened); partition/bloom options are declared on
        # logical names and translated here.
        phys_of = {f.name: (f.physical or f.name) for f in st.fields}
        fields_out = [
            (F.col(f.name) if f.name in pks
             else F.when(op == OP_REMOVE, F.lit(None))
             .otherwise(F.col("__w").getField(f.name)))
            .alias(phys_of[f.name]) for f in st.fields]
        plan = _ApplyPlan(
            token=token, pks=pks, typed=typed, winner=winner,
            final_ops=final_ops, stats=stats, fields_out=fields_out,
            op_out=op.cast("int").alias(OP_COL),
            options=self._writer_options(
                table, st, [*phys_of.values(), VERSION_COL, OP_COL]),
            parts=[phys_of[c] for c in self._partition_cols(table)
                   if c in phys_of])
        self._apply_plans[(db, table)] = plan
        return plan

    def _apply_table_rows_locked(self, db: str, table: str, rows: DataFrame,
                                 meta: dict) -> dict[str, DataFrame]:
        """Append ``rows`` and advance the watermarks in ``meta``; returns
        each maintained aggregate's delta (none when nothing applied)."""
        plan = self._apply_plan(db, table, meta)

        if self.ignore_deletes:
            rows = rows.where(F.col("event_type") != OP_REMOVE)
        # F3 — replay guard: drop already-committed events (idempotent
        # restart, reference db_replicator_realtime.py:81–83). Applied to
        # each key's winner, which equals dropping the events first: the
        # winner is the key's newest event, so it is above the watermark
        # iff some event is, and then it is the newest of those too. There
        # the watermark literal changes only the small post-collapse code,
        # and the scan/convert stage's generated code is reused by every
        # batch instead of being compiled again.
        collapsed = (rows.select(*plan.typed)
                     .groupBy(*plan.pks).agg(plan.winner)
                     .where(F.col("__w.seq") > meta["last_seq"]))

        # batch stats ride the write action via observe() — one Spark job
        # per (table, segment) instead of a separate stats collect over a
        # persisted intermediate (the dominant fixed cost at streaming
        # cadence; VERDICT r1 #4). Only safe when the write is the SOLE
        # action over the observed frame: with maintained aggregates the
        # delta staging writes are extra actions over the same frame and
        # the observation may capture whichever action's metrics event
        # lands first (schemaless row race) — that path persists collapsed
        # anyway, so stats come from a direct cache-served aggregate below.
        obs = None
        if not (meta.get("aggregates") or {}):
            from pyspark.sql import Observation
            obs = Observation()
            collapsed = collapsed.observe(obs, *plan.stats)

        # maintained aggregates: deltas must see the PRE-append state, so
        # they are materialized before the write — to a staging parquet
        # path, NOT via collect(): the staging write breaks the delta's
        # lineage on the pre-append files without moving row data through
        # the driver, so a high-cardinality group key stays fully
        # distributed (O(groups touched) executor-side). A view whose seq
        # watermark disagrees with the table's (crash between table write
        # and view write) is rebuilt from the pre-batch state first —
        # repair = the from-scratch definition.
        aggs = meta.get("aggregates") or {}
        agg_deltas: dict[str, DataFrame] = {}
        if aggs:
            from .operators.incremental_agg import agg_delta
            collapsed = collapsed.persist()
            final_ops = collapsed.select(*plan.final_ops)
            pks = plan.pks
            pre_seq = int(meta["last_seq"])
            for nm in aggs:
                if self._agg_last_seq(db, table, nm) != pre_seq:
                    self._rebuild_aggregate(db, table, nm)
            keys = final_ops.select(*pks)
            old_final = dedup_final_ops(
                self.read_raw(db, table)
                    .join(F.broadcast(keys), pks, "left_semi"),
                pks, op_col=OP_COL)
            for nm, spec in aggs.items():
                d = agg_delta(old_final, final_ops, spec["group"],
                              spec["value"], op_col="event_type",
                              add_value=OP_ADD)
                # localCheckpoint pins the delta against the PRE-append
                # files without moving row data through the driver (the
                # r4 staging-parquet round-trip, minus its 2 IO jobs per
                # view per batch); crash repair never relied on the
                # staged bytes — a seq-watermark mismatch rebuilds from
                # scratch either way. Block lifetime: checkpoint storage
                # is reclaimed by Spark's ContextCleaner once this frame
                # goes out of scope at batch end (weak-reference cleanup
                # — unlike CacheManager persists, no explicit unpersist
                # is needed or possible here).
                agg_deltas[nm] = d.localCheckpoint()

        # K4 — after the collapse each key appears ONCE in this batch, so
        # every surviving row can take the same version `watermark + 1`:
        # per-key monotonicity across batches is preserved (all versions
        # here exceed every earlier batch's), ties within a batch are
        # impossible (one row per key), and stamping is O(1) per row with
        # NO global sort — the scalable replacement for the reference's
        # driver-side counter (clickhouse_api.py:334–335). Deterministic
        # across retries by construction.
        new_version = int(meta["last_version"]) + 1
        out = collapsed.select(
            *plan.fields_out,
            F.lit(new_version).cast("long").alias(VERSION_COL),
            plan.op_out)

        os.makedirs(self._data_dir(db, table), exist_ok=True)
        writer = out.write.mode("append").options(**plan.options)
        if plan.parts:
            writer = writer.partitionBy(*plan.parts)
        writer.parquet(self._data_dir(db, table))

        if obs is not None:
            stats = obs.get
        else:  # aggs path: collapsed is cached; one tiny extra job
            stats = collapsed.agg(*plan.stats).collect()[0].asDict()
        if aggs:
            collapsed.unpersist()  # the deltas are checkpointed
        if int(stats["n"]) == 0:
            return {}  # nothing applied; keep watermarks unchanged
        with self._stats_guard:  # parallel table writers share the counters
            self._batch_inserts = getattr(self, "_batch_inserts", 0) \
                + int(stats["n_add"])
            self._batch_erases = getattr(self, "_batch_erases", 0) \
                + int(stats["n"] - stats["n_add"])
        meta["last_version"] = new_version
        meta["last_seq"] = int(stats["mx"])
        return agg_deltas

    # -- recovery / verification --------------------------------------------

    def recover_version(self, db: str, table: str) -> int:
        """A1 — reconcile the per-table version counter from the data itself:
        ``MAX(_version)`` over the replica (reference consolidates parallel
        snapshot workers and crash-recovers the same way,
        clickhouse_api.py:444–467, db_replicator_initial.py:450–470).
        Returns the recovered watermark and persists it to the metadata."""
        with self.update_meta(db, table) as meta:
            if self._has_data(db, table):
                v = self._live_frame(db, table, meta) \
                    .agg(F.max(VERSION_COL)).first()[0]
                meta["last_version"] = max(int(v or 0), meta["last_version"])
        return meta["last_version"]

    def verify_structure(self, db: str, table: str,
                         current_create_sql: str) -> None:
        """D15 — structure-drift verification: after a snapshot, re-fetch the
        source DDL and abort publication if the schema changed mid-copy
        (reference db_replicator_initial.py:277–384). Raises on drift."""
        fresh = parse_create_table(current_create_sql)
        stored = self.structure(db, table)
        fresh_sig = [(f.name, f.type_spec, f.nullable) for f in fresh.fields]
        stored_sig = [(f.name, f.type_spec, f.nullable) for f in stored.fields]
        if fresh_sig != stored_sig or \
                list(fresh.primary_keys) != list(stored.primary_keys):
            raise RuntimeError(
                f"structure drift detected for {db}.{table}: source schema "
                f"changed during snapshot — rerun initial replication "
                f"(got {fresh_sig}, had {stored_sig})")

    # -- compaction (reference db_optimizer OPTIMIZE FINAL) -----------------

    def optimize(self, db: str, table: str) -> None:
        """Materialize the latest-wins collapse: drop superseded versions and
        tombstones. Keeps ``_version``/``_op`` so CDC keeps appending above
        the preserved watermark.

        Runs fully under the table lock: parquet file LISTING happens
        eagerly when read_raw builds its frame, so without the lock a
        micro-batch appended between the listing and the swap would
        vanish with the old directory (the optimizer runs on the
        supervisor thread, applies on the streaming thread)."""
        with self.update_meta(db, table) as meta:
            if not self._has_data(db, table):
                return
            st = _structure_from_dict(meta["structure"])
            collapsed = dedup_final_ops(self.read_raw(db, table),
                                        st.primary_keys, op_col=OP_COL) \
                .withColumn(OP_COL, F.lit(OP_ADD))
            # S8 — per-table sort-order override (reference ``order_bys``,
            # clickhouse_api.py:260–273): clustering at compaction time gives
            # parquet min/max stats real selectivity on those columns. With
            # 2–3 numeric/temporal keys the rewrite Z-orders instead of
            # sorting lexicographically (functions/zorder.py): every file
            # then covers a tight range on EVERY key, so at 100 TB a scan
            # filtered on the second or third column still prunes row groups
            # — lexicographic clustering only helps the leading one.
            if self.settings is not None:
                order = self.settings.order_by_for(table)
                if order:
                    from .functions.zorder import zorder_cluster
                    z = zorder_cluster(collapsed, order) \
                        if len(order) >= 2 else None
                    collapsed = z if z is not None \
                        else collapsed.sortWithinPartitions(*order)
            self._overwrite_data(db, table, collapsed, meta)

    # -- streaming ----------------------------------------------------------

    def start_streaming(self, event_dir: str, checkpoint_dir: str,
                        trigger_seconds: float = 1.0,
                        max_files_per_trigger: int | None = None):
        """Realtime replication: event-log stream → foreachBatch apply.
        1 s default trigger = the reference's DATA_DUMP_INTERVAL
        (db_replicator_realtime.py:22). Exactly-once = file-source
        checkpoint + the per-table seq replay guard."""
        stream = stream_event_log(self.spark, event_dir,
                                  max_files_per_trigger)
        sc = self.spark.sparkContext
        prev_pool = sc.getLocalProperty("spark.scheduler.pool")
        # the stream-execution thread inherits the pool from the thread
        # that calls start() (Spark's documented way to pin a streaming
        # query to a scheduler pool): micro-batch apply jobs land in the
        # weighted `apply` pool so a concurrent index-maintenance job
        # (pool `maintenance`) can never stall the 1 s flush cadence —
        # no-op under the default FIFO scheduler of a foreign session
        sc.setLocalProperty("spark.scheduler.pool", "apply")
        try:
            return (stream.writeStream
                    .foreachBatch(lambda batch, _id:
                                  self.apply_batch(batch))
                    .option("checkpointLocation", checkpoint_dir)
                    .trigger(processingTime=f"{trigger_seconds} seconds")
                    .start())
        finally:
            sc.setLocalProperty("spark.scheduler.pool", prev_pool)
