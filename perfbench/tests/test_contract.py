"""BENCHMARK.json shape, and agreement between it and the metrics the
benchmark prints."""

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.run import main  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_.\-/]{1,200}$")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        return json.load(fp)


def test_metric_names_are_well_formed():
    bench = _benchmark()
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in bench["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(names)) == len(names)
    assert all(UNIT.match(m["unit"]) for m in metrics)


def test_benchmark_json_shape():
    bench = _benchmark()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 1 <= len(bench["paths"]) <= 16
    for path in bench["paths"]:
        assert PATH.match(path) and not path.startswith("/") and ".." not in path
        assert os.path.isdir(os.path.join(ROOT, path))
    command = bench["command"]
    assert 1 <= len(command) <= 32 and all(len(c) <= 200 for c in command)
    assert all(not c.startswith("/") and ".." not in c for c in command)
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"]
        assert len(w["why"]) <= 200
    assert 1 <= len(bench["end_to_end"]) <= 16
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert 1 <= len(bench["per_layer"]) <= 128
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert len(json.dumps(bench).encode()) <= 64 * 1024


def test_benchmark_json_workloads_match_the_runner():
    for w in _benchmark()["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why


def test_unknown_workload_is_refused():
    try:
        main(["--workload", "nope", "--seed", "1"])
    except SystemExit as exc:
        assert exc.code != 0
    else:
        raise AssertionError("accepted an unknown workload")
