"""Span self-time arithmetic."""

import pytest

from spans import Span, Tracer, covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered(2, 6, [(0, 3), (5, 9)]) == 2


def test_self_time_is_duration_minus_children():
    spans = [
        Span("call", 0, None, 0.0, 10.0),
        Span("staged", 0, 0, 1.0, 7.0),
        Span("functions", 0, 1, 1.0, 3.0),
        Span("blocking", 0, 1, 3.0, 6.5),
        Span("pipeline", 0, 0, 7.0, 9.5),
    ]
    assert self_times(spans) == pytest.approx([1.5, 0.5, 2.0, 3.5, 2.5])


def test_overlapping_children_are_not_counted_twice():
    spans = [Span("p", 1, None, 0.0, 4.0),
             Span("a", 1, 0, 0.0, 3.0), Span("b", 1, 0, 2.0, 4.0)]
    assert self_times(spans)[0] == 0.0


def test_tracer_nests_and_dumps_self_times():
    tr = Tracer()
    with tr.span("call", 3):
        with tr.span("layer", 3, rows=5):
            pass
    out = tr.dump()
    assert [(d["name"], d["parent"], d["trace_id"]) for d in out] == [
        ("call", None, 3), ("layer", 0, 3)]
    assert out[1]["attrs"] == {"rows": 5}
    assert out[0]["self_s"] == pytest.approx(
        out[0]["end"] - out[0]["start"] - (out[1]["end"] - out[1]["start"]))
