"""Span self-time arithmetic and the wrapping tracer (no Spark needed)."""

import pytest

from crawlbench.trace import Span, Tracer, covered, self_times


def span(name, start, end, parent=None):
    return Span(name, start, end, parent, "t")


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (5, 6)], 0, 10) == 3
    assert covered([(1, 4), (2, 6), (5, 7)], 0, 10) == 6  # one run 1..7
    assert covered([(1, 3), (1, 3)], 0, 10) == 2
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4  # clipped to [0, 10]
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        span("root", 0.0, 10.0),
        span("a", 1.0, 4.0, parent=0),
        span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        span("a.leaf", 1.5, 2.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.5, 3.0, 0.5])


def test_self_times_sum_to_root_duration():
    spans = [
        span("root", 0.0, 8.0),
        span("x", 0.5, 2.5, parent=0),
        span("y", 3.0, 7.0, parent=0),
        span("y1", 3.5, 4.0, parent=2),
        span("y2", 4.0, 6.0, parent=2),
    ]
    assert sum(self_times(spans)) == pytest.approx(8.0)


class Engine:
    def outer(self):
        return self.inner() + 1

    def inner(self):
        return 1


def test_tracer_records_nesting_only_when_enabled():
    tr = Tracer()
    orig_outer = Engine.outer
    tr.wrap(Engine, "outer", "engine.outer")
    tr.wrap(Engine, "inner", "engine.inner")
    try:
        assert Engine().outer() == 2
        assert tr.spans == []
        tr.enabled, tr.trace_id = True, "op-1"
        assert Engine().outer() == 2
    finally:
        tr.unwrap_all()
    assert Engine.outer is orig_outer
    outer, inner = tr.spans
    assert (outer.name, outer.parent, inner.name, inner.parent) == ("engine.outer", None, "engine.inner", 0)
    assert outer.trace_id == inner.trace_id == "op-1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    totals = tr.layer_totals()
    assert totals["engine.outer"]["calls"] == totals["engine.inner"]["calls"] == 1
    assert totals["engine.outer"]["self_s"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start)
    )


def test_span_closes_when_the_call_raises():
    class Boom:
        def go(self):
            raise ValueError("boom")

    tr = Tracer()
    tr.wrap(Boom, "go", "boom.go")
    tr.enabled = True
    try:
        with pytest.raises(ValueError):
            Boom().go()
    finally:
        tr.unwrap_all()
    (s,) = tr.spans
    assert s.end is not None and tr._stack == []


def test_stage_seconds_follow_job_groups():
    from crawlbench.run import stage_seconds

    jobs = [
        {"jobId": 0, "jobGroup": "g0", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "g1", "stageIds": [1, 2]},  # reuses stage 1
        {"jobId": 2, "jobGroup": None, "stageIds": [3]},  # outside any span
    ]
    stages = [
        {"stageId": i, "executorRunTime": 1000 * (i + 1), "executorCpuTime": 10**9}
        for i in range(4)
    ]
    out = stage_seconds(jobs, stages, {"g0": "op-0", "g1": "op-1"})
    assert out == {"op-0": (3.0, 2.0), "op-1": (3.0, 1.0)}


def test_overhead_is_traced_minus_untraced_median():
    from crawlbench.run import overhead

    ops = [{"traced": t, "wall_s": w} for t, w in
           [(True, 5.0), (False, 4.0), (True, 5.5), (False, 4.2), (True, 9.0)]]
    assert overhead(ops) == pytest.approx(5.5 - 4.1)
    assert overhead(ops[:1]) == 0.0  # one operation: nothing untraced to compare
