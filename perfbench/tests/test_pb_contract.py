"""BENCHMARK.json names exactly the metrics the runner prints, with the
runner's units, and stays inside the benchmark contract's limits."""

import json
import os
import re

import run as runner
from benchlib.workloads import WORKLOADS

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_keys_and_command():
    b = load()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60


def test_workloads_exist():
    b = load()
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_match_runner():
    b = load()
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == runner.E2E_UNITS
    layers = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert layers == runner.LAYER_UNITS
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
