"""Self-tests of the percentile rule and the span recorder.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert harness.highest_tail(list(range(39))) is None
    assert harness.highest_tail(list(range(40)))[0] == 75
    assert harness.highest_tail(list(range(99)))[0] == 75
    assert harness.highest_tail(list(range(100)))[0] == 90
    assert harness.highest_tail(list(range(200)))[0] == 95
    assert harness.highest_tail(list(range(1000)))[0] == 99


def test_tail_value_leaves_at_least_ten_above():
    for n in (40, 57, 100, 150, 401, 1000):
        values = [float(v) for v in range(n)]
        q, v = harness.highest_tail(values)
        assert sum(x > v for x in values) >= harness.MIN_BEYOND
        assert v == values[-(-n * q // 100) - 1]


def test_timing_summary_reports_count_median_and_tail():
    s = harness.timing_summary([float(v) for v in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0
    assert "p90" not in harness.timing_summary([1.0, 2.0, 3.0])


def test_self_time_subtracts_merged_children():
    t = harness.Tracer()
    with t.span("batch", ident="b1") as outer:
        with t.span("a"):
            pass
        with t.span("b") as b:
            pass
    # overlapping children count once
    t.spans[1].start, t.spans[1].end = outer.start + 1, outer.start + 3
    b.start, b.end = outer.start + 2, outer.start + 4
    outer.end = outer.start + 10
    assert abs(t.self_time(outer) - 7) < 1e-9
    assert b.ident == "b1" and b.parent == 0


def test_wrapped_records_and_restores():
    class Layer:
        def work(self, x):
            return x * 2

    t = harness.Tracer()
    orig = Layer.work
    with harness.wrapped(t, Layer, "work", "layer.work", lambda _s, x: f"q{x}"):
        assert Layer().work(4) == 8
    assert Layer.work is orig
    (s,) = t.named("layer.work")
    assert s.ident == "q4" and s.end >= s.start
