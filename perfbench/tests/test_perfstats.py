"""The harness's own arithmetic.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.perfstats import Outcomes, covered, median, self_time, tail
from perfbench.spans import Span, Tracer


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(v) for v in range(100, 0, -1)]  # 100 samples, unsorted
    pct, value = tail(values)
    assert value == 90.0
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(90.0)


def test_tail_of_eleven_samples_is_the_minimum():
    values = [float(v) for v in range(11)]
    assert tail(values) == (pytest.approx(100 / 11), 0.0)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_covered_merges_overlaps():
    assert covered([(1, 3), (2, 5), (7, 8)]) == 5
    assert covered([]) == 0


def test_self_time_subtracts_children_once_and_clips_them():
    # children overlap each other ([1,3] and [2,5]) and one overhangs the
    # parent's end ([8,12]); covered part of [0,10] is [1,5] + [8,10]
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(11, 12)]) == 10


def test_nested_spans_self_time_and_totals():
    tr = Tracer.__new__(Tracer)
    tr.spans = [
        Span(0, "request", "r1", None, 0.0, 10.0),
        Span(1, "step_a", "r1", 0, 1.0, 4.0),
        Span(2, "inner", "r1", 1, 2.0, 3.0),
        Span(3, "step_b", "r1", 0, 5.0, 9.0),
    ]
    for sp, jobs in zip(tr.spans, (0, 2, 3, 4)):
        sp.counts["jobs"] = jobs
    request, step_a = tr.spans[0], tr.spans[1]
    # a grandchild is covered by its parent, so the root sees [1,4] + [5,9]
    assert tr.self_time(request) == 3.0
    assert tr.self_time(step_a) == 2.0
    assert tr.total(request, "jobs") == 9
    assert tr.total(step_a, "jobs") == 5


def test_outcomes_count_each_failed_operation_once():
    out = Outcomes()
    out.record([])
    out.record(["top-k mismatch", "context lacks previous turn"])
    out.record([])
    out.record(["ValueError: boom"])
    assert (out.attempted, out.failed) == (4, 2)
    assert out.error_rate == 0.5
    assert len(out.problems) == 3


def test_error_rate_of_nothing_attempted_is_zero():
    assert Outcomes().error_rate == 0.0
