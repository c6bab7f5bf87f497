"""BENCHMARK.json, the metrics the benchmark prints, and the recorded
layer -> end-to-end predictions agree."""

import json
import os

import layers
import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_benchmark_json_matches_the_printed_metrics():
    bench = _load(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert bench["run_seconds"] == run.NOMINAL_SECONDS


def test_every_layer_metric_has_a_prediction():
    notes = _load(os.path.join(HERE, "predictions.json"))
    assert set(notes["predictions"]) == set(layers.UNITS)
    e2e = set(run.E2E_UNITS)
    for name, p in notes["predictions"].items():
        assert set(p["moves"]) <= e2e, name
        assert set(p["workloads"]) <= set(run.WORKLOADS), name
    assert set(notes["workloads"]) == set(run.WORKLOADS)
