"""Span arithmetic, the tail-percentile rule and the layer wrappers."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from spans import (
    Instrumented,
    SliceClock,
    Span,
    Tracer,
    covered,
    duration,
    nearest_rank,
    self_time,
    spanned,
    tail_percentile,
)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, dt):
        self.t += dt


def _span(spans, name, parent, outer, inner):
    s = Span(name, len(spans), parent, outer[0], inner[0], inner[1], outer[1])
    spans.append(s)
    if parent is not None:
        spans[parent].children.append(s.id)
    return s


class TestTailPercentile:
    @pytest.mark.parametrize("n, p", [(40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0),
                                      (10_000, 99.9)])
    def test_highest_percentile_with_ten_beyond(self, n, p):
        samples = list(range(1, n + 1))
        got_p, value = tail_percentile(samples)
        assert got_p == p
        assert n - value >= 10  # ten samples rank beyond the reported value
        assert value == nearest_rank(samples, p)

    @pytest.mark.parametrize("n", [0, 1, 19, 39])
    def test_none_when_too_few_samples(self, n):
        assert tail_percentile(list(range(n))) is None

    def test_just_below_threshold_falls_to_lower_percentile(self):
        assert tail_percentile(list(range(199)))[0] == 90.0  # 199 - ceil(189.05) = 9 for p95

    def test_nearest_rank_is_order_free(self):
        assert nearest_rank([5, 1, 4, 2, 3], 50) == 3
        assert nearest_rank([5, 1, 4, 2, 3], 100) == 5
        assert nearest_rank([7], 99.9) == 7


class TestSelfTime:
    def test_sequential_children(self):
        spans = []
        p = _span(spans, "p", None, (0, 10), (0, 10))
        _span(spans, "a", p.id, (1, 3), (1, 3))
        _span(spans, "b", p.id, (5, 6), (5, 6))
        assert self_time(spans, p) == pytest.approx(7.0)
        assert duration(spans, p) == pytest.approx(10.0)

    def test_overlapping_children_counted_once(self):
        spans = []
        p = _span(spans, "p", None, (0, 10), (0, 10))
        _span(spans, "a", p.id, (1, 4), (1, 4))
        _span(spans, "b", p.id, (2, 6), (2, 6))
        assert self_time(spans, p) == pytest.approx(5.0)

    def test_child_clipped_to_parent(self):
        spans = []
        p = _span(spans, "p", None, (2, 8), (2, 8))
        _span(spans, "a", p.id, (0, 3), (0, 3))
        _span(spans, "b", p.id, (7, 12), (7, 12))
        assert self_time(spans, p) == pytest.approx(4.0)

    def test_grandchildren_do_not_reduce_parent_twice(self):
        spans = []
        p = _span(spans, "p", None, (0, 10), (0, 10))
        c = _span(spans, "c", p.id, (1, 5), (1, 5))
        _span(spans, "g", c.id, (2, 3), (2, 3))
        assert self_time(spans, p) == pytest.approx(6.0)
        assert self_time(spans, c) == pytest.approx(3.0)

    def test_instrumentation_charged_to_nobody(self):
        # the child spends 0.5 s before and 0.5 s after its inner interval
        # reading stage counters
        spans = []
        p = _span(spans, "p", None, (0, 10), (0, 10))
        c = _span(spans, "c", p.id, (1, 4), (1.5, 3.5))
        _span(spans, "g", c.id, (2, 3), (2.25, 2.75))
        assert duration(spans, c) == pytest.approx(2.0 - 0.5)
        assert self_time(spans, c) == pytest.approx(2.0 - 1.0)
        assert duration(spans, p) == pytest.approx(10.0 - 1.0 - 0.5)
        assert self_time(spans, p) == pytest.approx(10.0 - 3.0)
        # duration = self time + the children's durations
        assert duration(spans, p) == pytest.approx(self_time(spans, p) + duration(spans, c))

    def test_covered_union(self):
        assert covered([], 0, 5) == 0
        assert covered([(1, 2), (1.5, 3), (4, 9)], 0, 5) == pytest.approx(3.0)


class TestTracer:
    def test_tree_and_stage_counters(self):
        clock = FakeClock()

        class Jobs:
            def as_dict(self):
                return {"stages": 2}

        @contextmanager
        def measure():
            clock.advance(0.1)
            yield Jobs()
            clock.advance(0.1)

        t = Tracer(measure=measure, clock=clock)
        t.enabled = True
        with t.span("outer"):
            clock.advance(1)
            with t.span("inner"):
                clock.advance(2)
        outer, inner = t.spans
        assert inner.parent == outer.id and outer.children == [inner.id]
        assert inner.jobs == {"stages": 2}
        assert duration(t.spans, inner) == pytest.approx(2.0)
        assert duration(t.spans, outer) == pytest.approx(3.0)
        assert self_time(t.spans, outer) == pytest.approx(1.0)

    def test_disabled_records_nothing(self):
        t = Tracer()
        with t.span("x") as s:
            assert s is None
        assert t.spans == []

    def test_exception_closes_span(self):
        t = Tracer()
        t.enabled = True
        with pytest.raises(ValueError):
            with t.span("x"):
                raise ValueError
        with t.span("y"):
            pass
        assert t.spans[0].end >= t.spans[0].start
        assert t.spans[1].parent is None


class TestWrappers:
    def test_patch_and_restore(self):
        class Layer:
            def work(self, x):
                return x * 2

        original = Layer.__dict__["work"]
        t = Tracer()
        t.enabled = True
        inst = Instrumented()
        inst.patch(Layer, "work", spanned(t, "layer.work"))
        assert Layer().work(3) == 6
        assert [s.name for s in t.spans] == ["layer.work"]
        inst.restore()
        assert Layer.__dict__["work"] is original

    def test_slice_clock_nests_calls_under_slice(self):
        clock = FakeClock()
        t = Tracer(clock=clock)
        t.enabled = True
        sc = SliceClock(t, clock=clock)
        with t.span("pipeline.run"):
            for _ in range(2):
                sc.begin()
                with t.span("lake.write_work"):
                    clock.advance(1)
                with t.span("pipeline.manifest"):
                    clock.advance(0.5)
                sc.end()
        assert sc.latencies == [1.5, 1.5]
        slices = [s for s in t.spans if s.name == "pipeline.slice"]
        assert len(slices) == 2
        for s in slices:
            assert [t.spans[c].name for c in s.children] == ["lake.write_work", "pipeline.manifest"]
            assert s.parent == 0
            assert self_time(t.spans, s) == pytest.approx(0.0)

    def test_slice_clock_abandons_failed_attempt(self):
        clock = FakeClock()
        t = Tracer(clock=clock)
        t.enabled = True
        sc = SliceClock(t, clock=clock)
        sc.begin()
        clock.advance(1)  # attempt fails before its manifest append
        sc.begin()
        clock.advance(2)
        sc.end()
        assert sc.latencies == [2.0]
        assert [s.end - s.start for s in t.spans] == [1.0, 2.0]
