"""In-memory spans recorded by the benchmark around its calls into the
program, plus the statistics the report uses.  Spark-free: the caller
passes hooks that tag Spark jobs with the span they ran under.

A span has a name, start, end, parent and the trace id of the operation
it belongs to.  Each thread keeps its own stack; a thread with an empty
stack (a worker thread the program started) parents its spans under the
span the main thread has open.
"""

from __future__ import annotations

import itertools
import math
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: str
    name: str
    trace_id: str
    parent: str | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans.  ``on_enter(span)`` runs after a span opens and
    ``on_exit(span, parent)`` after it closes, on the opening thread, so
    the caller can set and restore the thread's Spark job group."""

    def __init__(self, on_enter=None, on_exit=None, clock=time.time):
        self.spans: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit
        self._clock = clock
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self.trace_id = "setup"

    def _stack(self) -> list:
        return self._stacks.setdefault(threading.get_ident(), [])

    def current(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        main = self._stacks.get(self._main)
        return main[-1] if main else None

    def open(self, name: str, **attrs) -> Span:
        parent = self.current()
        with self._lock:
            span = Span(
                span_id=f"s{next(self._ids)}",
                name=name,
                trace_id=self.trace_id,
                parent=parent.span_id if parent else None,
                start=self._clock(),
                attrs=attrs,
            )
            self.spans.append(span)
        self._stack().append(span)
        if self._on_enter:
            self._on_enter(span)
        return span

    def close(self, span: Span) -> None:
        """Close ``span`` and any span still open above it (one an
        exception skipped)."""
        stack = self._stack()
        if span not in stack:
            raise RuntimeError(f"span {span.name} is not open on this thread")
        while True:
            top = stack.pop()
            top.end = self._clock()
            if self._on_exit:
                self._on_exit(top, self.current())
            if top is span:
                return

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def operation(self, trace_id: str):
        """Spans opened inside share ``trace_id`` (one per benchmark op)."""
        prev, self.trace_id = self.trace_id, trace_id
        try:
            yield
        finally:
            self.trace_id = prev


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: list) -> dict:
    out: dict = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list) -> dict:
    """span_id -> wall minus the part of it that child spans cover.
    Children of parallel threads may overlap; their union counts once."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.span_id, [])
            if c.end > s.start and c.start < s.end
        )
        out[s.span_id] = s.wall - covered
    return out


def nesting_violations(spans: list, tol: float = 1e-6) -> list:
    """Spans that end before they start, or stick out of their parent."""
    by_id = {s.span_id: s for s in spans}
    bad = []
    for s in spans:
        if s.end is None or s.end < s.start:
            bad.append(s.span_id)
            continue
        p = by_id.get(s.parent)
        if p is not None and (s.start < p.start - tol or s.end > p.end + tol):
            bad.append(s.span_id)
    return bad


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 80.0)


def tail_percentile(n: int) -> float | None:
    """The highest of the usual tail percentiles with at least ten
    samples beyond it, or None when only the median is supported."""
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100) >= 10 - 1e-9:
            return p
    return None


def nearest_rank(values: list, p: float) -> float:
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def summarize(values: list) -> dict:
    """Median and the supported tail percentile, with the sample count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = nearest_rank(values, p)
    return out
