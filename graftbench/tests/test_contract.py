"""BENCHMARK.json and the launcher agree on metric names and units."""

from __future__ import annotations

import json
import os

import layers
import run
import workloads

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match_the_launcher():
    e2e = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert e2e == run.END_TO_END


def test_per_layer_metrics_are_computed_with_their_units():
    for m in _bench()["per_layer"]:
        assert m["name"] in layers.PER_LAYER
        assert m["unit"] == run.unit_of(m["name"])


def test_registered_workloads_exist():
    assert {w["name"] for w in _bench()["workloads"]} <= set(workloads.WORKLOADS)
