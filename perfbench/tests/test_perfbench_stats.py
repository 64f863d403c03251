"""Unit tests for the benchmark's statistics: the tail-percentile rule,
quartiles, and self time from spans.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    value, pct = stats.tail(xs)
    assert value == 30
    assert sum(x > value for x in xs) == stats.TAIL_BEYOND
    assert pct == 75.0


def test_tail_is_order_free_and_needs_eleven_samples():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5]
    value, pct = stats.tail(xs)
    assert value == 0.5  # 11 samples: the highest has exactly 10 beyond it
    assert pct == pytest.approx(100 / 11)
    with pytest.raises(ValueError):
        stats.tail(xs[:10])


def test_tail_percentile_grows_with_samples():
    _, p100 = stats.tail(range(100))
    _, p1000 = stats.tail(range(1000))
    assert p100 == 90.0 and p1000 == 99.0


def test_quartiles_match_statistics_module():
    xs = [3.1, 2.0, 9.5, 4.4, 4.0, 5.5, 1.2, 8.8, 7.0, 6.1]
    assert stats.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    q1, q2, q3 = stats.quartiles(xs)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / q2)


def _span(sid, parent, start, end):
    return Span(sid, parent, f"s{sid}", None, 0, start, end)


def test_self_time_subtracts_children_union():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps child 1: union is 1..5
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped to 8..10
        _span(4, 1, 1.5, 2.0),  # grandchild: only its own parent loses it
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_is_free_when_disabled():
    t = Tracer()
    with t.span("off") as s:
        assert s is None
    assert t.spans == []
    t.enabled = True
    t.op, t.pass_no = "op1", 3
    with t.span("outer") as outer:
        with t.span("inner", hit=True) as inner:
            pass
    assert [s.name for s in t.spans] == ["inner", "outer"]
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.attrs == {"hit": True} and inner.op == "op1" and inner.pass_no == 3
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_tracer_maps_job_groups_to_spans():
    t = Tracer()
    t.enabled = True
    t.op, t.pass_no = "op1", 2
    with t.span("streaming.drain_stream") as s:
        t.alias("3f1c-run-id", s)
    t.alias("ignored", None)
    assert t.span_id(f"p2|op1|streaming.drain_stream|{s.sid}") == s.sid
    assert t.span_id("3f1c-run-id") == s.sid
    assert t.span_id("ignored") is None
    assert t.span_id("p1:exec:test") is None
    assert t.span_id(None) is None
