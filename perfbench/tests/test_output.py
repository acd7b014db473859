"""BENCHMARK.json and the result object keep the benchmark contract."""

import json
import os
import re

import pytest

import run
import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_is_rendered_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json()


def test_benchmark_json_limits():
    b = spec.benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(os.path.isdir(os.path.join(ROOT, p)) for p in b["paths"])


@pytest.mark.parametrize("trace", [False, True])
def test_result_json_schema(trace):
    names = spec.PER_LAYER_UNITS if trace else spec.END_TO_END
    out = {"attempted": 3, "failed": 0, "metrics": {n: 1.5 for n in names}}
    res = run.result_json(out, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and set(res["metrics"]) == set(names)
    assert all(set(m) == {"value", "unit"} for m in res["metrics"].values())
    json.dumps(res)


def test_result_json_refuses_missing_metrics():
    with pytest.raises(ValueError):
        run.result_json({"attempted": 1, "failed": 0, "metrics": {"warm_s": 1.0}}, False)


def test_every_per_layer_prediction_names_a_metric_and_workload():
    for name, _, _, moves, workload in spec.PER_LAYER:
        assert moves in set(spec.END_TO_END) | {"none"}, name
        assert workload in set(spec.WORKLOADS) | {"all", "none"}, name
