"""Spans around the benchmark's calls into the package, and the interval
arithmetic that turns them into per-layer self times.

A span records its name, start, end, parent and pass id, plus the
intervals it spent forcing its inputs.  Spans stay in memory until the
run ends; the launcher then prints them.

Self time partitions a traced pass: every instant belongs to the
deepest span open at that instant, unless that span was forcing its
inputs then (tracing overhead).  Within a span's exclusive time, the
part during which a Spark job ran is the span's self time; the rest of
the pass, when no job ran, is the driver gap.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import asdict, dataclass, field

Interval = tuple[float, float]


def union(intervals) -> list[Interval]:
    """Sorted, disjoint union of (start, end) intervals; empty ones drop."""
    out: list[list[float]] = []
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def clip(intervals, lo: float, hi: float) -> list[Interval]:
    """The parts of ``intervals`` inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def measure(intervals) -> float:
    return sum(e - s for s, e in union(intervals))


def intersect(a, b) -> list[Interval]:
    """Intersection of two interval sets."""
    out = []
    for s, e in union(b):
        out.extend(clip(union(a), s, e))
    return out


def subtract(a, b) -> list[Interval]:
    """``a`` minus ``b``."""
    out = []
    holes = union(b)
    for s, e in union(a):
        cur = s
        for hs, he in holes:
            if he <= cur or hs >= e:
                continue
            if hs > cur:
                out.append((cur, hs))
            cur = max(cur, he)
        if cur < e:
            out.append((cur, e))
    return out


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    pass_id: int = 0
    forced: list[Interval] = field(default_factory=list)


def exclusive(span: Span, spans: list[Span]) -> list[Interval]:
    """The span's interval minus its children's and its forced inputs."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return subtract([(span.start, span.end)], clip(kids + span.forced, span.start, span.end))


def self_times(spans: list[Span], jobs: list[Interval]) -> dict[str, float]:
    """Per span id: exclusive time during which any Spark job ran."""
    busy = union(jobs)
    return {s.id: measure(intersect(exclusive(s, spans), busy)) for s in spans}


def driver_gap(root: Span, spans: list[Span], jobs: list[Interval]) -> float:
    """Time in ``root`` when no Spark job ran, outside every forced input."""
    forced = [iv for s in spans for iv in s.forced]
    covered = clip(list(jobs) + forced, root.start, root.end)
    return (root.end - root.start) - measure(covered)


class Tracer:
    """Opens spans around calls, sets the Spark job group to the span id
    while the span is open, and forces DataFrame results through the
    ``noop`` sink.  Inputs a span receives from an earlier span are
    materialized first, once, inside a recorded forced-input interval, so
    the span's own forcing does not recompute them."""

    def __init__(self, spark, pass_id: int = 0):
        self.spark = spark
        self.pass_id = pass_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        # id of each DataFrame a span returned -> [frame, its materialized copy]
        self._produced: dict[int, list] = {}

    def _group(self, span_id: str | None) -> None:
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span_id, span_id)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(f"s{next(self._ids)}", name, time.time(), parent=parent,
                    pass_id=self.pass_id)
        self.spans.append(span)
        self._stack.append(span)
        self._group(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        self._group(self._stack[-1].id if self._stack else None)

    def _force_input(self, span: Span, df):
        entry = self._produced.get(id(df))
        if entry is None:
            return df
        if entry[1] is None:
            from mapreduce_framework_for_mergesort_spark.operators.materialize import (
                materialize,
            )

            self._group(span.id + ":input")
            t0 = time.time()
            entry[1] = materialize(df)
            span.forced.append((t0, time.time()))
            self._group(span.id)
        return entry[1]

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` in a span named ``name``.  Positional
        and keyword DataFrame arguments that an earlier span returned are
        materialized first; a batch DataFrame result is forced."""
        span = self.open(name)
        try:
            args = tuple(self._force_input(span, a) for a in args)
            kwargs = {k: self._force_input(span, v) for k, v in kwargs.items()}
            out = fn(*args, **kwargs)
            if _is_batch_frame(out):
                out.write.format("noop").mode("overwrite").save()
                self._produced[id(out)] = [out, None]
            return out
        finally:
            self.close(span)

    def records(self, self_s: dict[str, float]) -> list[dict]:
        """Every span as a dict, with its self time."""
        return [{**asdict(s), "self_s": self_s[s.id]} for s in self.spans]


def _is_batch_frame(obj) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(obj, DataFrame) and not obj.isStreaming
