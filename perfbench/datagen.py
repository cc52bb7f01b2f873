"""Deterministic inputs for the replicator benchmark.

Everything here is a pure function of the seed: the seed tables the
replica is snapshotted from, and the CDC event stream the generator
process writes on its schedule. ``TableModel`` is the generator's model
of a table's final state; the benchmark's correctness gate compares the
replica's ``read_final`` against its row count and checksum.

The checksum is ``sum(crc32("|".join(non-null values as text)))`` over the
live rows. Spark computes the same number with ``crc32(concat_ws('|',
...))`` (``concat_ws`` skips NULLs, as the join below does), so the
comparison needs no collect of the replica.
"""

from __future__ import annotations

import itertools
import random
import zlib

DB = "bench"

# Text vocabulary with a Zipf-like weight, so BM25 probes meet both
# common and rare terms.
VOCAB = [f"w{i:03d}" for i in range(400)]
_VOCAB_CUM = list(itertools.accumulate(1.0 / (i + 1) for i in range(len(VOCAB))))

BASE_COLUMNS = ["id", "grp", "qty", "body"]

# the row-event mix: updates, inserts, and deletes for the rest
P_UPDATE, P_INSERT = 0.8, 0.1


def create_sql(table: str) -> str:
    return (f"CREATE TABLE {table} (id bigint NOT NULL, grp int, "
            f"qty bigint, body varchar(2000), PRIMARY KEY (id))")


def _text(rng: random.Random, lo: int = 4, hi: int = 12) -> str:
    return " ".join(rng.choices(VOCAB, cum_weights=_VOCAB_CUM,
                                k=rng.randint(lo, hi)))


def row_checksum(row) -> int:
    return zlib.crc32("|".join(str(v) for v in row
                               if v is not None).encode("utf-8"))


def seed_rows(seed: int, table: str, n: int) -> list[tuple]:
    """The table's rows at snapshot time: ids 0..n-1."""
    rng = random.Random(f"{seed}/{table}/seed")
    return [(i, rng.randrange(64), rng.randrange(1_000_000), _text(rng))
            for i in range(n)]


class TableModel:
    """The generator's model of one table: the live keys, with O(1)
    random choice (swap-remove list beside a position map), and every row
    the stream changed since the snapshot (``None`` = deleted). Rows the
    stream never touched are the seed rows, which the generator does not
    need to hold."""

    def __init__(self, table: str, n_seed: int):
        self.table = table
        self.columns = list(BASE_COLUMNS)
        self.changed: dict[int, list | None] = {}
        self._keys = list(range(n_seed))
        self._pos = {k: k for k in self._keys}
        self.next_id = n_seed

    def __len__(self) -> int:
        return len(self._keys)

    def pick(self, rng: random.Random) -> int:
        i = int(len(self._keys) * rng.random())
        return self._keys[min(i, len(self._keys) - 1)]

    def upsert(self, row: list) -> None:
        k = row[0]
        if k not in self._pos:
            self._pos[k] = len(self._keys)
            self._keys.append(k)
        self.changed[k] = row

    def delete(self, k: int) -> None:
        self.changed[k] = None
        i = self._pos.pop(k)
        last = self._keys.pop()
        if last != k:
            self._keys[i] = last
            self._pos[last] = i

    def add_column(self, name: str) -> None:
        self.columns.append(name)
        for row in self.changed.values():
            if row is not None:
                row.append(None)


def final_summary(seed_table_rows: list[tuple], changed: dict) -> dict:
    """Row count and checksum of the final state: the seed rows with the
    stream's changes (``changed``: id -> row or None) laid over them."""
    n = 0
    total = 0
    for row in seed_table_rows:
        if row[0] not in changed:
            n += 1
            total += row_checksum(row)
    for row in changed.values():
        if row is not None:
            n += 1
            total += row_checksum(row)
    return {"rows": n, "checksum": total}


class EventStream:
    """The CDC stream over several tables: each call to ``next_file``
    returns the events of one event-log file, drawn from the seeded RNG
    and applied to the models.

    Events are ``("add", table, row)``, ``("remove", table, id)`` or
    ``("ddl", table, sql)``. A file holds one table's events (tables
    round-robin), so a file is committed once that table's ``last_seq``
    reaches the file's last seq. ``alter_every`` > 0 opens every that
    many-th file with an ``ALTER TABLE ... ADD COLUMN``."""

    def __init__(self, seed: int, models: list[TableModel],
                 events_per_file: int, alter_every: int = 0):
        self.rng = random.Random(f"{seed}/events")
        self.models = models
        self.events_per_file = events_per_file
        self.alter_every = alter_every
        self.files = 0

    def _row(self, m: TableModel, k: int) -> list:
        rng = self.rng
        row = [k, rng.randrange(64), rng.randrange(1_000_000), _text(rng)]
        row += [f"x{rng.randrange(1000)}" for _ in m.columns[4:]]
        return row

    def next_file(self) -> tuple[str, list[tuple]]:
        m = self.models[self.files % len(self.models)]
        self.files += 1
        events: list[tuple] = []
        if self.alter_every and self.files % self.alter_every == 0:
            col = f"extra{len(m.columns) - 3}"
            m.add_column(col)
            events.append(("ddl", m.table,
                           f"ALTER TABLE {m.table} ADD COLUMN {col} "
                           f"varchar(32)"))
        rng = self.rng
        for _ in range(self.events_per_file):
            r = rng.random()
            if r < P_UPDATE and len(m):
                row = self._row(m, m.pick(rng))
                m.upsert(row)
                events.append(("add", m.table, row))
            elif r < P_UPDATE + P_INSERT or not len(m):
                row = self._row(m, m.next_id)
                m.next_id += 1
                m.upsert(row)
                events.append(("add", m.table, row))
            else:
                k = m.pick(rng)
                m.delete(k)
                events.append(("remove", m.table, k))
        return m.table, events
