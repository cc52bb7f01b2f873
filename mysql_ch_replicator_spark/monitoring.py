"""Replication monitoring — A4/A5 of SURVEY.md §2.6.

The reference prints per-process throughput/lag stats (db_replicator.py:21–30,
clickhouse_api.py:39–84, monitoring.py:27–56: binlog-file-number delta between
producer and consumer). Spark-first equivalents:

- ``ApplyStats`` — records/sec + operation counters the ``ReplicaEngine``
  updates per applied batch (the reference's ``Statistics`` dataclass,
  db_replicator.py:21–30).
- ``event_log_lag`` — producer/consumer lag measured on the event-log
  directory: highest file number written vs highest fully-processed seq
  (the reference's binlog-file delta, monitoring.py:27–56).
"""

from __future__ import annotations

import dataclasses
import os
import re
import time


@dataclasses.dataclass
class ApplyStats:
    """Per-engine counters (reference db_replicator.py:21–30)."""
    started_at: float = dataclasses.field(default_factory=time.monotonic)
    events_count: int = 0
    insert_records_count: int = 0
    erase_records_count: int = 0
    ddl_count: int = 0
    batches_count: int = 0
    last_batch_duration: float = 0.0

    def record_batch(self, inserts: int, erases: int, ddls: int,
                     duration: float) -> None:
        self.batches_count += 1
        self.insert_records_count += inserts
        self.erase_records_count += erases
        self.ddl_count += ddls
        self.events_count += inserts + erases + ddls
        self.last_batch_duration = duration

    def records_per_second(self) -> float:
        elapsed = time.monotonic() - self.started_at
        return self.events_count / elapsed if elapsed > 0 else 0.0

    def as_dict(self) -> dict:
        return {
            "events_count": self.events_count,
            "insert_records_count": self.insert_records_count,
            "erase_records_count": self.erase_records_count,
            "ddl_count": self.ddl_count,
            "batches_count": self.batches_count,
            "last_batch_duration": self.last_batch_duration,
            "records_per_second": round(self.records_per_second(), 2),
        }


_LOG_FILE_RE = re.compile(r"^(\d+)\.jsonl$")


def newest_log_file_number(log_dir: str) -> int | None:
    """Highest event-log file number the producer has written
    (reference monitoring.py:39–47 reads the same off the binlog dir)."""
    best = None
    if not os.path.isdir(log_dir):
        return None
    for name in os.listdir(log_dir):
        m = _LOG_FILE_RE.match(name)
        if m:
            n = int(m.group(1))
            best = n if best is None or n > best else best
    return best


def event_log_lag(log_dir: str, last_processed_seq: int,
                  records_per_file: int = 100_000) -> dict:
    """Producer/consumer lag in files and (approximate) events — the
    reference's binlog-lag metric (monitoring.py:27–56) restated for the
    JSON-lines event log: the producer's newest file number vs the file the
    consumer's committed seq falls into."""
    newest = newest_log_file_number(log_dir)
    if newest is None:
        return {"files_lag": 0, "approx_events_lag": 0}
    consumer_file = max(last_processed_seq + 1, 0) // records_per_file
    files_lag = max(newest - consumer_file, 0)
    # count actual unprocessed events in the tail files (cheap: line counts)
    events_lag = 0
    for n in range(consumer_file, newest + 1):
        path = os.path.join(log_dir, f"{n:06d}.jsonl")
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as fh:
            events_lag += sum(1 for _ in fh)
    # subtract the already-processed portion of the consumer's file
    events_lag = max(events_lag - (last_processed_seq + 1
                                   - consumer_file * records_per_file), 0)
    return {"files_lag": files_lag, "approx_events_lag": events_lag}


def index_freshness(indexes) -> list[dict]:
    """Per-index applied-watermark vs replica position, beside
    ``event_log_lag`` — the operating number the coalescing maintenance
    mode (indexmaint) turns index staleness into. Each row is one
    ``MaintainedIndex.status()``: ``applied_version``/``applied_seq``
    (what the index reflects), ``replica_version``/``replica_seq``
    (where the table is), ``versions_behind`` (CDC batches the index has
    not absorbed) and ``age_seconds`` since the last apply.

    Staleness contract: probes against the index see the replica's
    FINAL state as of ``applied_version`` — never a torn batch, possibly
    an old one, with the age bounded by the maintainer's
    ``max_lag_seconds``/``max_versions_behind`` thresholds. Metadata
    reads only (state file + table meta); safe on any poll cadence."""
    return [ix.status() for ix in indexes]


def dead_letter_count(event_root: str) -> int:
    """Quarantined-envelope count: lines across the ingest tier's
    committed ``_dead_letter/**/*.json`` files — the number the "no
    silent drops" rule exists to surface (a healthy pipeline holds it
    at 0, a misbehaving producer makes it grow — either way VISIBLE,
    unlike the reference's skipped binlog events). Counting contract
    (ADVICE r8, deliberate): quarantine dirs are keyed by dead-row
    CONTENT so foreachBatch replays and checkpoint resets can never
    drift the count upward — the flip side is that BYTE-IDENTICAL
    garbage re-emitted across distinct batches counts once (it is
    indistinguishable by content from a replay). DISTINCT malformed
    payloads — the realistic misbehaving-producer signature, since real
    envelopes carry varying keys/positions/timestamps — each get their
    own dir and the count grows. No Spark job; cost is O(quarantine
    bytes) per call, which the rule itself keeps near zero on a healthy
    pipeline. ``_``/``.``-prefixed subdirectories (Spark's in-flight
    ``_temporary`` attempt files) are pruned so a concurrent quarantine
    write can't double-count."""
    root = os.path.join(event_root, "_dead_letter")
    if not os.path.isdir(root):
        return 0
    n = 0
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(dirpath, name), "rb") as fh:
                    n += sum(1 for line in fh if line.strip())
            except OSError:
                continue
    return n
