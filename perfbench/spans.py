"""Spans recorded from outside the engine.

A span is a named wall-clock interval around a public call into one layer.
While a span is open, its name is the Spark job group of the calling thread,
so every job the call launches carries the span's name in the event log.
Spans nest: the innermost open span owns the jobs, and closing a span
restores the group of the span around it.

``instrument_engine`` wraps the engine's public layer entry points (wave,
snapshot commit and read, seen-filter maintenance) for the traced run only;
nothing is wrapped in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass
from typing import Iterator, List, Optional

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float
    parent: Optional[int]  # index of the enclosing span in Tracer.spans

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True) -> Iterator[Span]:
        """Open a span. ``jobs=False`` skips the job-group switch, for
        driver-only calls made per element (e.g. one seen-filter ``add`` per
        URL), where two JVM round trips per call would dominate."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time() * 1000.0, 0.0, parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        prev = self.sc.getLocalProperty(GROUP_KEY) if jobs else None
        if jobs:
            self.sc.setLocalProperty(GROUP_KEY, name)
        try:
            yield sp
        finally:
            sp.end_ms = time.time() * 1000.0
            self._stack.pop()
            if jobs:
                self.sc.setLocalProperty(GROUP_KEY, prev)

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, name_of=None) -> None:
        """Replace ``owner.attr`` with a spanned version. ``name_of(args,
        kwargs)`` may pick the span name per call."""
        raw = owner.__dict__[attr]
        is_static = isinstance(raw, staticmethod)
        is_class = isinstance(raw, classmethod)
        fn = raw.__func__ if (is_static or is_class) else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span_name = name_of(args, kwargs) if name_of else name
            with self.span(span_name, jobs=jobs):
                return fn(*args, **kwargs)

        if is_static:
            wrapper = staticmethod(wrapper)
        elif is_class:
            wrapper = classmethod(wrapper)
        setattr(owner, attr, wrapper)


def instrument_engine(tracer: Tracer) -> None:
    """Span the crawl's layer entry points. Select, fetch and parse have no
    call of their own: they run fused inside the snapshot-write jobs and
    are attributed by plan node from the event log instead."""
    from edgar_spark.frontier import bloom
    from edgar_spark.frontier.crawler import Crawler
    from edgar_spark.icelite.table import IceliteCatalog

    tracer.wrap(Crawler, "run", "crawl")
    tracer.wrap(Crawler, "run_wave", "frontier.wave")

    def commit_name(args, kwargs) -> str:
        meta = kwargs.get("meta") or (args[2] if len(args) > 2 else None) or {}
        return "model.final_commit" if meta.get("final") else "icelite.commit"

    tracer.wrap(IceliteCatalog, "commit_snapshot", "icelite.commit", name_of=commit_name)
    tracer.wrap(IceliteCatalog, "read", "icelite.read")
    for cls in (bloom.ShardedBloom, bloom.ShardedCuckoo):
        for attr in ("add", "merge", "build", "add_positions", "delete"):
            if attr in cls.__dict__:
                tracer.wrap(cls, attr, "seen.add", jobs=attr not in ("add", "delete"))
