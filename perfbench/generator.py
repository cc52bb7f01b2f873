"""The CDC load generator: a separate single process that writes
``EventLogWriter(live=True)`` files on a fixed schedule.

File ``i`` is due at ``start_at + i * interval`` (``time.monotonic``,
which is one clock for every process on the host) and holds the events
of the flush interval that ends then, as the reference's binlog
replicator buffers events and flushes them as files. After publishing a
file the generator appends a line to its sidecar, ``files.jsonl``:
scheduled and actual creation time, the source times of its first and
last event, the table, the file's seq range and its event count. On
exit it writes ``model.json``: its model of every table's changes
(``datagen.TableModel``) and how late it ran.

Run by ``run.py``; by hand::

    python3 perfbench/generator.py --out DIR --workload cdc_trickle \\
        --seed 1 --size full --files 100 --interval 0.05 --start-at 0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", default="full")
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--interval", type=float, required=True)
    p.add_argument("--start-at", type=float, default=0.0)
    a = p.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, os.path.dirname(HERE))
    import datagen
    from config import workload_config
    from mysql_ch_replicator_spark.sources.event_log import EventLogWriter

    cfg = workload_config(a.workload, a.size)
    models = [datagen.TableModel(t, n) for t, n in cfg["tables"].items()]
    stream = datagen.EventStream(a.seed, models, cfg["events_per_file"],
                                 alter_every=cfg["alter_every"])
    log_dir = os.path.join(a.out, "events")
    writer = EventLogWriter(log_dir, records_per_file=1 << 40, live=True)
    start_at = a.start_at or time.monotonic()
    late = []
    seq = 0  # the writer numbers events from 0 in a fresh log dir
    with open(os.path.join(a.out, "files.jsonl"), "a",
              encoding="utf-8") as side:
        for i in range(a.files):
            table, events = stream.next_file()
            due = start_at + i * a.interval
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            for kind, tbl, body in events:
                if kind == "add":
                    writer.add(datagen.DB, tbl, [body])
                elif kind == "remove":
                    writer.remove(datagen.DB, tbl, [(body,)])
                else:
                    writer.ddl(datagen.DB, body)
            writer.rotate()
            created = time.monotonic()
            late.append(max(0.0, created - due))
            n_rows = sum(1 for e in events if e[0] != "ddl")
            side.write(json.dumps({
                "file": f"{i:06d}.jsonl", "i": i, "due": due,
                "created": created, "table": table,
                # the source times of the file's row events: evenly
                # spread over the flush interval that ends at ``due``
                "t_first": due - a.interval * (1 - 1 / max(1, n_rows)),
                "t_last": due,
                "first_seq": seq, "max_seq": seq + len(events) - 1,
                "events": n_rows,
                "ddl": sum(1 for e in events if e[0] == "ddl")}) + "\n")
            side.flush()
            seq += len(events)
    late.sort()
    summary = {
        "tables": {m.table: {"columns": m.columns,
                             "changed": {str(k): v
                                         for k, v in m.changed.items()}}
                   for m in models},
        "files": a.files,
        "late_p95_s": late[int(0.95 * (len(late) - 1))] if late else 0.0,
        "late_max_s": late[-1] if late else 0.0,
    }
    tmp = os.path.join(a.out, ".model.json.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(summary, fh)
    os.replace(tmp, os.path.join(a.out, "model.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
