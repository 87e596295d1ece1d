import json
import os
import re

import pytest

from eventlog import EventLog
from harness import MODULE_LAYERS, TIMED_MODULES, layer_metrics
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_top_level_keys(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60
    assert isinstance(bench["run_seconds"], int)
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128


def test_command_and_paths_stay_inside_the_benchmark(bench):
    assert 1 <= len(bench["paths"]) <= 16
    for p in bench["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    assert len(bench["command"]) <= 32
    for arg in bench["command"]:
        assert len(arg) <= 200 and not arg.startswith("/") and ".." not in arg
        if "/" in arg:
            assert any(arg.startswith(p + "/") for p in bench["paths"])


def test_names_units_and_bounds(bench):
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"]) and "\n" not in w["why"]
        assert len(w["why"]) <= 200
        names.append(w["name"])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert len(names) == len(set(names))
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_layer_metrics_are_all_declared(bench):
    declared = {m["name"] for m in bench["per_layer"]}
    got = set(layer_metrics(Tracer(), EventLog()))
    assert got <= declared
    assert {f"op.{m}.calls" for m in MODULE_LAYERS} <= got
    assert {f"op.{m}.s" for m in TIMED_MODULES} <= got
