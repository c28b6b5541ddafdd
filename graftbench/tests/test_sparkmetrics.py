"""Spark metric strings parse to base units; tested on committed samples."""

from __future__ import annotations

import json
import os

import layers
import pytest
import sparkmetrics as SM

SAMPLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "samples")


def _load(name: str):
    with open(os.path.join(SAMPLES, name)) as f:
        return json.load(f)


@pytest.mark.parametrize("text,value", _load("sql_metrics.json")["values"])
def test_parse_metric(text, value):
    assert SM.parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", _load("sql_metrics.json")["invalid"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        SM.parse_metric(text)


def test_parse_time():
    assert SM.parse_time("2026-10-17T11:44:59.761GMT") == pytest.approx(1792237499.761)


def test_node_metrics_sum_by_node_and_name():
    nm = SM.node_metrics([_load("noop_execution.json")])
    assert nm[("HashAggregate", "number of output rows")] == 16
    assert nm[("WholeStageCodegen", "duration")] == pytest.approx(6.421)
    assert SM.metric_sum(nm, "peak memory") == 2 * 256 * 1024
    assert SM.metric_sum(nm, "number of output rows", ("Filter",)) == 57142


def test_output_rows_walks_down_from_root():
    assert layers.output_rows(_load("noop_execution.json")) == 4
