"""BENCHMARK.json agrees with what run.py prints and keeps to the limits
of its format."""

import json
import os
import re

import config
import report

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_keys_command_and_paths():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60


def test_workloads_exist_and_why_is_one_short_line():
    b = _bench()
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in config.WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_match_what_run_py_prints():
    b = _bench()
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == report.END_TO_END_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == \
        report.PER_LAYER
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"])
        assert m["better"] in ("higher", "lower")


def test_bounds_and_setup():
    e2e = {m["name"]: m for m in _bench()["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["better"] == "lower"
    bounds = [m["bound"] for m in e2e.values()]
    assert all(0 < x <= 0.25 for x in bounds)
    assert e2e["setup_s"]["bound"] == max(bounds)
