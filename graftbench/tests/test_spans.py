"""Self-time arithmetic: interval union, clipping and forced inputs."""

from __future__ import annotations

import pytest
import spans as S


def test_union_merges_overlaps_and_drops_empty():
    assert S.union([(3, 4), (0, 1), (0.5, 2), (5, 5), (2, 2.5)]) == [(0, 2.5), (3, 4)]


def test_clip_keeps_parts_inside():
    assert S.clip([(0, 2), (3, 6), (7, 9)], 1, 8) == [(1, 2), (3, 6), (7, 8)]
    assert S.clip([(0, 1)], 2, 3) == []


def test_subtract_and_intersect():
    assert S.subtract([(0, 10)], [(2, 3), (5, 7), (9, 12)]) == [(0, 2), (3, 5), (7, 9)]
    assert S.intersect([(0, 4), (6, 10)], [(3, 7)]) == [(3, 4), (6, 7)]
    assert S.measure([(0, 2), (1, 3)]) == 3


def _tree():
    root = S.Span("r", "pass", 0.0, 10.0)
    a = S.Span("a", "layer.a", 1.0, 5.0, parent="r", forced=[(1.0, 2.0)])
    b = S.Span("b", "layer.b", 3.0, 4.0, parent="a")
    c = S.Span("c", "layer.c", 6.0, 9.0, parent="r")
    return root, [root, a, b, c]


def test_exclusive_removes_children_and_forced_inputs():
    root, spans = _tree()
    a = spans[1]
    assert S.exclusive(a, spans) == [(2.0, 3.0), (4.0, 5.0)]
    assert S.exclusive(root, spans) == [(0.0, 1.0), (5.0, 6.0), (9.0, 10.0)]


def test_self_times_count_only_job_time():
    root, spans = _tree()
    jobs = [(0.5, 2.5), (3.2, 3.6), (4.5, 8.0)]
    st = S.self_times(spans, jobs)
    assert st["a"] == pytest.approx(0.5 + 0.5)  # (2,2.5) and (4.5,5)
    assert st["b"] == pytest.approx(0.4)
    assert st["c"] == pytest.approx(2.0)  # (6,8)
    assert st["r"] == pytest.approx(0.5 + 1.0)  # (0.5,1) and (5,6)


def test_partition_of_pass_wall_time():
    """Self times + driver gap + forced inputs = the pass's wall time."""
    root, spans = _tree()
    jobs = [(0.5, 2.5), (3.2, 3.6), (4.5, 8.0), (9.5, 11.0)]
    st = S.self_times(spans, jobs)
    gap = S.driver_gap(root, spans, jobs)
    forced = sum(e - s for sp in spans for s, e in sp.forced)
    assert sum(st.values()) + gap + forced == pytest.approx(10.0)
    # jobs outside the root are clipped away: (9.5, 10) counts, (10, 11) not
    assert st["r"] == pytest.approx(0.5 + 1.0 + 0.5)
