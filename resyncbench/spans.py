"""Span tracing for the benchmark, recorded from the benchmark's own files.

The package carries no spans. :func:`instrument` wraps the public entry
points of each layer (pipeline, sources, slicing, lake, operators.merge)
at run time, so a span is recorded around every call into a layer, with
its parent span, and the wrappers are removed again afterwards.

Each span keeps two intervals: ``outer`` includes the stage-counter reads
the span itself makes (``observability.measure_jobs``), ``inner`` does
not. Durations and self times are computed so that no span is charged
for instrumentation: a span's duration is its inner interval minus the
instrumentation of its descendants, and its self time is its inner
interval minus the part covered by its children's outer intervals.
"""

from __future__ import annotations

import functools
import math
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    outer_start: float
    start: float = 0.0
    end: float = 0.0
    outer_end: float = 0.0
    jobs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)


class Tracer:
    """Spans kept in memory; ``measure`` (optional) is a context-manager
    factory whose yielded object has ``as_dict()`` — Spark stage counters."""

    def __init__(self, measure=None, clock=time.perf_counter):
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._measure = measure
        self._clock = clock

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(name, len(self.spans), parent, self._clock())
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(span.id)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        while self._stack and self._stack[-1] is not span:
            left = self._stack.pop()  # a child left open by an exception
            left.end = left.outer_end = self._clock()
        if self._stack:
            self._stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        span = self.open(name)
        try:
            with (self._measure() if self._measure else nullcontext()) as jobs:
                span.start = self._clock()
                try:
                    yield span
                finally:
                    span.end = self._clock()
            if jobs is not None:
                span.jobs = jobs.as_dict()
        finally:
            span.outer_end = self._clock()
            self.close(span)


# ---------------------------------------------------------------------------
# Span arithmetic
# ---------------------------------------------------------------------------

def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        a = max(a, reach)
        total += b - a
        reach = b
    return total


def instrumentation(spans: list[Span], span: Span) -> float:
    """Time spent in the instrumentation of ``span``'s descendants."""
    total = 0.0
    for cid in span.children:
        c = spans[cid]
        total += (c.start - c.outer_start) + (c.outer_end - c.end)
        total += instrumentation(spans, c)
    return total


def duration(spans: list[Span], span: Span) -> float:
    return (span.end - span.start) - instrumentation(spans, span)


def self_time(spans: list[Span], span: Span) -> float:
    """Duration minus the part of it the child spans cover."""
    kids = [(spans[c].outer_start, spans[c].outer_end) for c in span.children]
    return (span.end - span.start) - covered(kids, span.start, span.end)


def descendants(spans: list[Span], span: Span):
    for cid in span.children:
        yield spans[cid]
        yield from descendants(spans, spans[cid])


# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(math.ceil(round(p * n / 100.0, 9)), 1)


def nearest_rank(samples, p: float) -> float:
    s = sorted(samples)
    return s[_rank(p, len(s)) - 1]


def tail_percentile(samples, min_beyond: int = 10):
    """The highest percentile of :data:`TAIL_LADDER` with at least
    ``min_beyond`` samples ranked beyond it, as ``(p, value)``; ``None``
    when no percentile of the ladder has that many."""
    n = len(samples)
    for p in TAIL_LADDER:
        if n and n - _rank(p, n) >= min_beyond:
            return p, nearest_rank(samples, p)
    return None


def median(samples) -> float:
    return statistics.median(samples) if samples else 0.0


# ---------------------------------------------------------------------------
# Wrapping the layers
# ---------------------------------------------------------------------------

class Instrumented:
    """Wrappers installed by :func:`instrument`; ``restore()`` removes them."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def patch(self, owner, attr: str, wrapper_factory) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper_factory(getattr(owner, attr)))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()


def spanned(tracer: Tracer, name: str):
    """Wrapper factory: a span named ``name`` around each call."""

    def factory(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    return factory


class SliceClock:
    """Per-slice latency of the sequential resync loop, from the start of
    a slice's ``read_slice`` to the end of its manifest append. Cheap
    enough to stay on in untraced runs (two clock reads per slice); when
    the tracer is on it also opens a ``pipeline.slice`` span over the
    same interval, so the slice's calls nest under it."""

    def __init__(self, tracer: Tracer, clock=time.perf_counter):
        self.tracer = tracer
        self.latencies: list[float] = []
        self.active = False  # inside the pipeline's sequential slice loop
        self._t0: float | None = None
        self._span: Span | None = None
        self._clock = clock

    def begin(self) -> None:
        self._abandon()
        self._t0 = self._clock()
        if self.tracer.enabled:
            self._span = self.tracer.open("pipeline.slice")
            self._span.start = self._span.outer_start

    def end(self) -> None:
        if self._t0 is None:
            return
        t = self._clock()
        self.latencies.append(t - self._t0)
        self._t0 = None
        if self._span is not None:
            self._span.end = self._span.outer_end = t
            self.tracer.close(self._span)
            self._span = None

    def _abandon(self) -> None:
        """A slice whose attempt raised is closed where the retry begins."""
        if self._span is not None:
            self._span.end = self._span.outer_end = self._clock()
            self.tracer.close(self._span)
            self._span = None
        self._t0 = None


def instrument(tracer: Tracer, slices: SliceClock) -> Instrumented:
    """Wrap each layer's public entry points with spans."""
    from etl_complete_with_spark_spark import lake as lake_mod
    from etl_complete_with_spark_spark.lake import Lake
    from etl_complete_with_spark_spark.pipeline import ResyncPipeline
    from etl_complete_with_spark_spark.sources import JdbcSource, ParquetSource

    inst = Instrumented()
    # Lake.read_trusted only plans a read; the workload spans the forced
    # downstream read under its name instead.
    for name in ("write_work", "read_work", "clear_work", "merge_trusted",
                 "vacuum_trusted"):
        inst.patch(Lake, name, spanned(tracer, f"lake.{name}"))
    inst.patch(lake_mod, "merge_upsert", spanned(tracer, "operators.merge.merge_upsert"))
    for name in ("run", "plan", "transform_and_merge"):
        inst.patch(ResyncPipeline, name, spanned(tracer, f"pipeline.{name}"))

    def sequential(fn):
        """Slices exist only in the sequential loop (a parallel read also
        goes through ``read_slice``, once, for the whole window)."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            slices.active = True
            try:
                return fn(*args, **kwargs)
            finally:
                slices.active = False

        return wrapper

    inst.patch(ResyncPipeline, "_run_sequential", sequential)

    def manifest(fn):
        traced = spanned(tracer, "pipeline.manifest")(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = traced(*args, **kwargs)
            slices.end()
            return out

        return wrapper

    inst.patch(ResyncPipeline, "_append_manifest", manifest)

    def read_slice(fn):
        traced = spanned(tracer, "sources.read_slice")(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if slices.active:
                slices.begin()
            return traced(*args, **kwargs)

        return wrapper

    for cls in (ParquetSource, JdbcSource):
        inst.patch(cls, "read_slice", read_slice)
        for name in ("read_range", "probe_min", "probe_max"):
            inst.patch(cls, name, spanned(tracer, f"sources.{name}"))
    return inst
