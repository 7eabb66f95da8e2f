"""Span tracing from outside the package.

A traced run wraps the package's public entry points (the layer
boundaries) in spans; nothing inside ``funnel_rocket_spark`` changes.
Spans stay in memory and are written once when the run ends. Spark job
intervals come from the driver's status store, the same source
``engine.metrics.JobGroupMetrics`` reads.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from typing import Optional


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "request")

    def __init__(self, sid, name, start, parent, request):
        self.sid, self.name, self.start, self.end = sid, name, start, None
        self.parent, self.request = parent, request

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent,
                "request": self.request}


class Tracer:
    """Collects spans of one run. ``request`` groups the spans of one
    request; the parent of a span is the innermost open span of the same
    thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.request: Optional[str] = None
        self.job_groups: list[str] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function, method or class) with a
        wrapper that records a span around each call."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def capture_job_groups(self, metrics_module) -> None:
        """Record the job-group id of every ``JobGroupMetrics`` the engine
        creates, so a request's Spark jobs can be found afterwards."""
        original = metrics_module.JobGroupMetrics
        tracer = self

        class Recording(original):
            def __init__(self, *args, **kwargs):
                super().__init__(*args, **kwargs)
                tracer.job_groups.append(self.group_id)

        self._patches.append((metrics_module, "JobGroupMetrics", original))
        metrics_module.JobGroupMetrics = Recording

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def request_spans(self, request: str) -> list[Span]:
        return [s for s in self.spans if s.request == request]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        stack = t._stack()
        with t._lock:
            span = Span(next(t._ids), self.name, time.perf_counter(),
                        stack[-1].sid if stack else None, t.request)
            t.spans.append(span)
        stack.append(span)
        self.span = span
        return span

    def __exit__(self, *exc):
        self.span.end = time.perf_counter()
        self.tracer._stack().pop()
        return False


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = [(max(s.start, span.start), min(s.end, span.end))
            for s in spans if s.parent == span.sid and s.end is not None]
    return span.duration - union_length([k for k in kids if k[1] > k[0]])


def job_intervals(sc, group_ids: list[str]) -> list[tuple[float, float]]:
    """(submission, completion) in seconds for every finished job of the
    given job groups, read from the driver's status store."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = []
    for gid in group_ids:
        for jid in tracker.getJobIdsForGroup(gid):
            job = store.job(int(jid))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1000.0,
                            done.get().getTime() / 1000.0))
    return out
