"""Read Spark's own counters back from its monitoring REST API.

Jobs carry the job group a span set, so a span's jobs, their stages and
the SQL executions that ran them can be picked out after the pass.
SQL node metrics arrive as display strings (``1,234``, ``819 ms``,
``5.8 KiB`` or a ``total (min, med, max ...)`` block); ``parse_metric``
turns each into a number in base units (bytes, seconds, count).
"""

from __future__ import annotations

import json
import re
import urllib.request
from datetime import datetime

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "min": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]+)?")


def parse_metric(text: str) -> float:
    """Spark SQL metric display string → number in base units.

    For the ``total (min, med, max (stageId: taskId))`` form the total,
    the first number on the second line, is returned.  Raises
    ``ValueError`` on anything else."""
    s = text.strip()
    if s.startswith("total"):
        lines = s.split("\n", 1)
        if len(lines) < 2:
            raise ValueError(f"no total line in {text!r}")
        s = lines[1]
    m = _NUM.match(s)
    if not m:
        raise ValueError(f"not a metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return value * _UNITS[unit]


def parse_time(stamp: str) -> float:
    """REST timestamp (``2026-10-17T11:44:59.761GMT``) → epoch seconds."""
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Thin client over ``/api/v1/applications/<app>`` of the live UI."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def settle(self) -> None:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stage(self, stage_id: int, details: bool = False) -> list[dict]:
        q = "?details=true" if details else ""
        return self.get(f"/stages/{stage_id}{q}")

    def sql(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=false&length=100000")


def job_interval(job: dict) -> tuple[float, float] | None:
    if not job.get("submissionTime") or not job.get("completionTime"):
        return None
    return parse_time(job["submissionTime"]), parse_time(job["completionTime"])


def node_metrics(executions: list[dict]) -> dict[tuple[str, str], float]:
    """Sum of every parsable node metric, keyed (node name, metric name);
    node names drop their codegen ids (``WholeStageCodegen (2)``)."""
    out: dict[tuple[str, str], float] = {}
    for ex in executions:
        for node in ex.get("nodes", []):
            name = re.sub(r"\s*\(\d+\)$", "", node.get("nodeName", ""))
            for m in node.get("metrics", []):
                try:
                    v = parse_metric(m["value"])
                except ValueError:
                    continue
                key = (name, m["name"])
                out[key] = out.get(key, 0.0) + v
    return out


def metric_sum(nm: dict, metric: str, nodes: tuple[str, ...] | None = None) -> float:
    return sum(v for (n, m), v in nm.items() if m == metric and (nodes is None or n in nodes))
