"""The metric names the benchmark prints match BENCHMARK.json."""

import json
import os

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_units_bounds():
    spec = {m["name"]: m for m in _spec()["end_to_end"]}
    assert set(spec) == {m[0] for m in metrics.END_TO_END}
    for name, unit, better, bound, _ in metrics.END_TO_END:
        assert spec[name] == {"name": name, "unit": unit, "better": better, "bound": bound}


def test_per_layer_names_units():
    spec = {m["name"]: m for m in _spec()["per_layer"]}
    assert set(spec) == {m[0] for m in metrics.PER_LAYER}
    for name, unit, better, *_ in metrics.PER_LAYER:
        assert spec[name] == {"name": name, "unit": unit, "better": better}


def test_workloads_match_registry():
    import workloads

    assert [w["name"] for w in _spec()["workloads"]] == list(workloads.WORKLOADS)
