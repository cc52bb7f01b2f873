"""Percentile math and the CDC lag timeline, on synthetic data."""

import pytest

import stats


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 1.0) == 4.0
    assert stats.percentile(xs, 0.5) == pytest.approx(2.5)
    assert stats.median([7.0]) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


@pytest.mark.parametrize("n,q,beyond", [
    (200, 0.95, 10), (182, 0.95, 10), (181, 0.95, 9), (100, 0.9, 10),
    (11, 0.5, 5), (1, 0.5, 0),
])
def test_samples_beyond(n, q, beyond):
    assert stats.samples_beyond(n, q) == beyond


def test_min_samples_is_the_smallest_that_qualifies():
    for q in (0.5, 0.9, 0.95, 0.99):
        n = stats.min_samples(q)
        assert stats.samples_beyond(n, q) >= stats.MIN_BEYOND
        assert stats.samples_beyond(n - 1, q) < stats.MIN_BEYOND
    assert stats.min_samples(0.95) == 182


def test_tail_refuses_a_percentile_without_ten_samples_beyond():
    xs = [float(i) for i in range(181)]
    with pytest.raises(ValueError, match="need 182"):
        stats.tail(xs, 0.95)
    xs.append(181.0)
    assert stats.tail(xs, 0.95) == pytest.approx(171.95)
    assert sum(x > 171.95 for x in xs) == 10
    # the rule can be relaxed (the smoke size does)
    assert stats.tail([1.0, 2.0], 0.95, beyond=0) == pytest.approx(1.95)


def _file(table, max_seq, created, events=1, t_first=None):
    return {"table": table, "max_seq": max_seq, "created": created,
            "events": events, "t_first": created if t_first is None
            else t_first, "t_last": created}


def test_attribute_commits_matches_the_first_apply_covering_each_file():
    files = [_file("a", 9, 0.0), _file("a", 19, 0.5), _file("b", 24, 0.6),
             _file("a", 29, 1.4), _file("a", 39, 9.0)]
    commits = [
        {"start": 1.0, "end": 1.5, "last_seq": {"a": 19, "b": -1}},
        # b's watermark rises, a's stays: file a/29 is not committed here
        {"start": 2.0, "end": 2.7, "last_seq": {"a": 19, "b": 24}},
        {"start": 3.0, "end": 3.2, "last_seq": {"a": 29, "b": 24}},
    ]
    got = stats.attribute_commits(files, commits)
    assert [(f["max_seq"], f["commit"]) for f in got] == \
        [(9, 0), (19, 0), (24, 1), (29, 2)]          # seq 39 never committed
    assert [f["commit_end"] for f in got] == [1.5, 1.5, 2.7, 3.2]
    assert got[0]["queue_wait"] == pytest.approx(1.0)
    assert got[3]["queue_wait"] == pytest.approx(1.6)


def test_a_watermark_that_falls_back_is_ignored():
    files = [_file("a", 5, 0.0)]
    commits = [{"start": 0.1, "end": 0.2, "last_seq": {"a": 3}},
               {"start": 0.3, "end": 0.4, "last_seq": {"a": 7}},
               {"start": 0.5, "end": 0.6, "last_seq": {"a": 2}}]
    assert stats.attribute_commits(files, commits)[0]["commit"] == 1


def test_event_lags_spread_a_files_events_over_its_flush_interval():
    f = {"events": 5, "t_first": 10.0, "t_last": 12.0, "commit_end": 13.0}
    assert stats.event_lags([f]) == pytest.approx([3.0, 2.5, 2.0, 1.5, 1.0])
    one = {"events": 1, "t_first": 4.0, "t_last": 4.0, "commit_end": 5.0}
    assert stats.event_lags([one]) == [1.0]


def test_lag_percentiles_on_a_synthetic_timeline():
    # one file every 0.5 s with 100 events spread over its interval, and
    # an apply every 2 s that commits what was published before it began
    # and returns 0.8 s later
    files, commits = [], []
    for i in range(40):
        due = 0.5 * (i + 1)
        files.append({"table": "t", "max_seq": i, "created": due,
                      "events": 100, "t_first": due - 0.5 + 0.005,
                      "t_last": due})
    for k in range(1, 12):
        start = 2.0 * k + 0.1
        done = [f["max_seq"] for f in files if f["created"] <= start]
        commits.append({"start": start, "end": start + 0.8,
                        "last_seq": {"t": max(done)}})
    got = stats.attribute_commits(files, commits)
    assert len(got) == 40
    lags = stats.event_lags(got)
    assert len(lags) == 4000
    # the events of a trigger period wait on average half of it, plus
    # the wait to the apply and the apply itself
    assert stats.median(lags) == pytest.approx(0.1 + 0.8 + 1.0, abs=0.01)
    assert stats.tail(lags, 0.95) == pytest.approx(0.9 + 1.9, abs=0.02)
