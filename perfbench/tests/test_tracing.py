"""Span self-time and job attribution arithmetic on synthetic spans."""

from __future__ import annotations

import pytest

from perfbench.tracing import UNTRACKED, Job, Span, Tracer, covered, span_metrics


def _spans():
    # root [0,10] ⊃ a [2,5] ⊃ a1 [3,4]; root ⊃ b [6,8]
    return [
        Span(0, "root", None, "r", 0.0, 10.0),
        Span(1, "a", 0, "r", 2.0, 5.0),
        Span(2, "a1", 1, "r", 3.0, 4.0, error=True),
        Span(3, "b", 0, "r", 6.0, 8.0),
    ]


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0.0


def test_self_time_jobs_and_driver_split():
    jobs = [
        Job(0, "pb-0", 0.5, 1.5, tasks=2, shuffle_records=10),
        Job(1, "pb-0", 8.5, 9.0, tasks=1),
        # overlaps child b: only the part in root's self interval counts
        Job(2, "pb-0", 5.5, 6.5, tasks=1),
        Job(3, None, 3.5, 3.6, tasks=4),  # untagged: innermost open span
        Job(4, UNTRACKED, 0.0, 10.0, tasks=100),
    ]
    m = span_metrics(_spans(), jobs)
    assert m["root"]["s"] == pytest.approx(10 - 3 - 2)
    assert m["a"]["s"] == pytest.approx(2.0)
    assert m["a1"]["s"] == pytest.approx(1.0)
    assert m["b"]["s"] == pytest.approx(2.0)
    assert m["root"]["jobs_s"] == pytest.approx(1.0 + 0.5 + 0.5)
    assert m["root"]["driver_s"] == pytest.approx(5.0 - 2.0)
    assert m["root"]["jobs"] == 3 and m["root"]["tasks"] == 4
    assert m["root"]["shuffle_records"] == 10
    assert m["a1"]["jobs"] == 1 and m["a1"]["jobs_s"] == pytest.approx(0.1)
    assert m["a1"]["errors"] == 1 and m["a"]["errors"] == 0
    assert m["spark"]["jobs"] == 4 and m["spark"]["tasks"] == 8


def test_same_name_spans_sum():
    spans = [Span(0, "x", None, "r", 0.0, 1.0), Span(1, "x", None, "r", 2.0, 2.5)]
    m = span_metrics(spans, [])
    assert m["x"]["s"] == pytest.approx(1.5) and m["x"]["calls"] == 2


def test_wrap_records_nesting_and_restores():
    class Thing:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    original = Thing.__dict__["outer"]
    tr = Tracer("r")
    tr.wrap(Thing, "outer", "t.outer")
    tr.wrap(Thing, "inner", "t.inner")
    assert Thing().outer() == 2
    outer, inner = tr.spans
    assert (outer.name, outer.parent) == ("t.outer", None)
    assert (inner.name, inner.parent) == ("t.inner", outer.id)
    tr.uninstall()
    assert Thing.__dict__["outer"] is original


def test_wrap_marks_errors():
    class Boom:
        def go(self):
            raise ValueError("x")

    tr = Tracer("r")
    tr.wrap(Boom, "go", "boom")
    with pytest.raises(ValueError):
        Boom().go()
    tr.uninstall()
    assert tr.spans[0].error and tr.spans[0].end is not None
