"""The CDC apply's plan: how many Spark jobs a micro-batch costs, that
the one-task plan of a small batch and the shuffled plan of a large one
give the same replica, and that a table's cached apply expressions follow
its structure through DDL."""

import pytest

from mysql_ch_replicator_spark import engine as engine_mod
from mysql_ch_replicator_spark.engine import ReplicaEngine
from mysql_ch_replicator_spark.sources.event_log import (
    EventLogWriter, read_event_log,
)

DB = "db"
USERS_DDL = """CREATE TABLE users (
  id int NOT NULL, name varchar(64), age int, PRIMARY KEY (id))"""


def _job_count(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None)
               or [])


class _Log:
    """One event log; each ``batch()`` publishes the events written since
    the last one as one file and returns that file as a micro-batch."""

    def __init__(self, spark, path):
        self.spark, self.path = spark, str(path)
        self.writer = EventLogWriter(self.path)
        self.files = 0

    def batch(self):
        self.writer.rotate()
        self.files += 1
        return self.read(f"{self.files - 1:06d}.jsonl")

    def read(self, pattern):
        return read_event_log(self.spark, self.path, pattern=pattern)


@pytest.fixture
def shuffled_plan(monkeypatch):
    """Every batch counts as large, so the apply takes the shuffled
    collapse."""
    monkeypatch.setattr(engine_mod, "_ONE_TASK_MAX_BYTES", -1)


def _state(engine, table="users"):
    meta = engine.load_meta(DB, table)
    rows = sorted(tuple(r) for r in engine.read_final(DB, table).collect())
    s = engine.stats
    return (rows, meta["last_seq"], meta["last_version"],
            (s.events_count, s.insert_records_count, s.erase_records_count,
             s.ddl_count, s.batches_count))


def test_small_ddl_free_batch_issues_two_jobs(spark, tmp_path):
    """A DDL-free micro-batch to one table: one metadata aggregate, then
    one write carrying the batch stats; no shuffle job in either."""
    engine = ReplicaEngine(spark, str(tmp_path / "r"))
    engine.create_table(DB, USERS_DDL)
    log = _Log(spark, tmp_path / "log")
    log.writer.add(DB, "users", [(i, f"u{i}", i) for i in range(300)])
    engine.apply_batch(log.batch())  # first apply builds the plan
    log.writer.add(DB, "users", [(i, f"v{i}", i) for i in range(0, 300, 3)])
    log.writer.remove(DB, "users", [(1,), (2,)])
    batch = log.batch()
    j0 = _job_count(spark)
    engine.apply_batch(batch)
    assert _job_count(spark) - j0 == 2
    rows = {r.id: r.name for r in engine.read_final(DB, "users").collect()}
    assert len(rows) == 298 and rows[3] == "v3" and rows[4] == "u4"


def test_ddl_batch_issues_no_more_jobs_than_the_shuffled_plan(spark,
                                                              tmp_path):
    """A batch with one DDL barrier: the one-task plan issues 5 jobs (the
    shuffled plan issued 8 for this batch): metadata, one write per
    segment, and the ADD COLUMN's footer read."""
    engine = ReplicaEngine(spark, str(tmp_path / "r"))
    engine.create_table(DB, USERS_DDL)
    log = _Log(spark, tmp_path / "log")
    log.writer.add(DB, "users", [(i, f"u{i}", i) for i in range(100)])
    engine.apply_batch(log.batch())
    log.writer.add(DB, "users", [(1, "x", 1)])
    log.writer.ddl(DB, "ALTER TABLE users ADD COLUMN extra int")
    log.writer.add(DB, "users", [(2, "y", 2, 7)])
    batch = log.batch()
    j0 = _job_count(spark)
    engine.apply_batch(batch)
    assert _job_count(spark) - j0 <= 5
    rows = {r.id: (r.name, r.extra)
            for r in engine.read_final(DB, "users").collect()}
    assert rows[1] == ("x", None) and rows[2] == ("y", 7)


def test_one_task_bound_is_the_input_size_estimate(spark, tmp_path,
                                                   monkeypatch):
    """A batch whose size estimate is at the bound is applied in one task
    (two jobs); one byte over it takes the shuffled plan."""
    log = _Log(spark, tmp_path / "log")
    rows = [(i, f"u{i}", i) for i in range(50)]
    log.writer.add(DB, "users", rows)
    batch = log.batch()
    size = int(batch._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    jobs = []
    for name, bound in (("at", size), ("over", size - 1)):
        monkeypatch.setattr(engine_mod, "_ONE_TASK_MAX_BYTES", bound)
        engine = ReplicaEngine(spark, str(tmp_path / name))
        engine.create_table(DB, USERS_DDL)
        j0 = _job_count(spark)
        engine.apply_batch(batch)
        jobs.append(_job_count(spark) - j0)
        assert sorted(tuple(r)[:3] for r in engine.read_final(DB, "users")
                      .collect()) == rows
    assert jobs[0] == 2 and jobs[1] > 2


def _replay_scenario(spark, path, ignore_deletes):
    engine = ReplicaEngine(spark, str(path / "r"),
                           ignore_deletes=ignore_deletes)
    engine.create_table(DB, USERS_DDL)
    log = _Log(spark, path / "log")
    w = log.writer
    w.add(DB, "users", [(i, f"u{i}", i) for i in range(40)])
    log.batch()
    w.remove(DB, "users", [(i,) for i in range(0, 40, 5)])
    log.batch()
    # two files in one batch (several input files coalesce to one task)
    both = log.read("00000[01].jsonl")
    w.add(DB, "users", [(i, f"v{i}", -i) for i in range(30, 50)])
    w.remove(DB, "users", [(31,), (60,)])       # 60 was never inserted
    w.add(DB, "users", [(31, "back", 0)])       # ADD after REMOVE reinstates
    w.remove(DB, "users", [(32,)])              # REMOVE after ADD removes
    third = log.batch()
    states = []
    for batch in (both, third, third, both):    # the last two are replays
        engine.apply_batch(batch)
        states.append(_state(engine))
    return states


@pytest.mark.parametrize("ignore_deletes", [False, True])
def test_small_and_shuffled_plans_agree(spark, tmp_path, ignore_deletes,
                                        request):
    """The same batches, replays included, through the one-task plan and
    through the shuffled plan give the same replica, watermarks and
    counters after every batch."""
    j0 = _job_count(spark)
    small = _replay_scenario(spark, tmp_path / "small", ignore_deletes)
    small_jobs = _job_count(spark) - j0
    request.getfixturevalue("shuffled_plan")
    j0 = _job_count(spark)
    large = _replay_scenario(spark, tmp_path / "large", ignore_deletes)
    # the shuffled plan really ran: it costs more jobs than the one-task one
    assert _job_count(spark) - j0 > small_jobs
    assert large == small
    rows, _, _, counters = small[-1]
    assert len(rows) == (50 if ignore_deletes else 43)
    assert (counters[2] == 0) == ignore_deletes   # erases counted


# (DDL, post-DDL rows, final rows) — each post-DDL row only converts right
# under the new structure: a fourth value, a renamed column, a new type
DDL_CASES = {
    "add": ("ALTER TABLE {t} ADD COLUMN extra varchar(16)",
            [(3, "c", 30, "x3"), (1, "a2", 11, "x1")],
            {(1, "a2", 11, "x1"), (2, "b2", 21, None), (3, "c", 30, "x3")}),
    "rename": ("ALTER TABLE {t} RENAME COLUMN name TO nick",
               [(3, "c", 30), (1, "a2", 11)],
               {(1, "a2", 11), (2, "b2", 21), (3, "c", 30)}),
    "modify": ("ALTER TABLE {t} MODIFY COLUMN age varchar(16)",
               [(3, "c", "thirty"), (1, "a2", "eleven")],
               {(1, "a2", "eleven"), (2, "b2", "21"), (3, "c", "thirty")}),
}


def _final(engine, table):
    df = engine.read_final(DB, table).drop("_version")
    return df.columns, {tuple(r) for r in df.collect()}


@pytest.mark.parametrize("placement", ["between_batches", "inside_batch"])
@pytest.mark.parametrize("kind", sorted(DDL_CASES))
def test_plan_cache_follows_ddl(spark, tmp_path, kind, placement):
    """The cached apply plan is rebuilt when a DDL changes the table's
    structure, whether the DDL arrives in its own batch or as a barrier
    inside one: rows after it convert under the new structure."""
    ddl, post, want = DDL_CASES[kind]
    engine = ReplicaEngine(spark, str(tmp_path / "r"))
    engine.create_table(DB, USERS_DDL)
    log = _Log(spark, tmp_path / "log")
    log.writer.add(DB, "users", [(1, "a", 10), (2, "b", 20)])
    engine.apply_batch(log.batch())            # builds the plan
    log.writer.add(DB, "users", [(2, "b2", 21)])
    if placement == "between_batches":
        engine.apply_batch(log.batch())
    log.writer.ddl(DB, ddl.format(t="users"))
    if placement == "between_batches":
        engine.apply_batch(log.batch())
    log.writer.add(DB, "users", post)
    engine.apply_batch(log.batch())
    cols, rows = _final(engine, "users")
    assert rows == want
    assert ("nick" in cols) == (kind == "rename")


def test_plan_cache_per_table_under_parallel_apply(spark, tmp_path):
    """Two tables in one batch on the apply thread pool, each with its own
    DDL barrier: each table's plan follows its own structure."""
    engine = ReplicaEngine(spark, str(tmp_path / "r"))
    engine.apply_parallelism = 4
    log = _Log(spark, tmp_path / "log")
    for t in ("t1", "t2"):
        engine.create_table(DB, USERS_DDL.replace("users", t))
        log.writer.add(DB, t, [(1, "a", 10), (2, "b", 20)])
    engine.apply_batch(log.batch())
    for t, kind in (("t1", "add"), ("t2", "modify")):
        log.writer.add(DB, t, [(2, "b2", 21)])
        log.writer.ddl(DB, DDL_CASES[kind][0].format(t=t))
    for t, kind in (("t1", "add"), ("t2", "modify")):
        log.writer.add(DB, t, DDL_CASES[kind][1])
    engine.apply_batch(log.batch())
    for t, kind in (("t1", "add"), ("t2", "modify")):
        assert _final(engine, t)[1] == DDL_CASES[kind][2], t
