"""BENCHMARK.json names exactly what the harness reports."""

from __future__ import annotations

import json
import os

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_the_harness():
    bench = _bench()
    workloads, per_layer = run._workloads()
    assert [w["name"] for w in bench["workloads"]] == list(workloads)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == per_layer
    assert all(m["unit"] == run._unit(m["name"]) for m in bench["per_layer"])


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
