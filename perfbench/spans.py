"""In-memory spans around the benchmark's calls into each engine layer.

A :class:`Tracer` records one span per call: name, start, end and the span
that caused it, plus the change in a set of counters between start and end
(Spark's status store and store-directory walks, see ``counters.py``).
Spans are kept in memory and written once, as JSON lines, when the run
ends.  A disabled tracer hands out a shared no-op context, so the untraced
run pays one attribute lookup per call.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool, counters: Callable[[], dict] | None = None) -> None:
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        before = self.counters() if self.counters else {}
        sp = Span(name, time.perf_counter(), self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            if self.counters:
                after = self.counters()
                sp.counters = {k: after[k] - before[k] for k in after}

    def span(self, name: str, **attrs):
        """Context manager for one span; a no-op when tracing is off."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    def wrap(self, obj, method: str, name: str) -> None:
        """Route ``obj.method`` through a span (instance attribute, so calls
        the object makes on itself are traced too)."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover
        (children of one span never overlap: calls are sequential)."""
        own = [sp.end - sp.start for sp in self.spans]
        for sp in self.spans:
            if sp.parent is not None:
                own[sp.parent] -= sp.end - sp.start
        return own

    def totals(self, name: str) -> dict:
        """Sum of duration, self time, counters and calls over spans named
        ``name``."""
        out = {"s": 0.0, "self_s": 0.0, "calls": 0}
        for sp, own in zip(self.spans, self.self_times()):
            if sp.name != name:
                continue
            out["s"] += sp.end - sp.start
            out["self_s"] += own
            out["calls"] += 1
            for k, v in sp.counters.items():
                out[k] = out.get(k, 0) + v
        return out

    def write(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            for i, (sp, s) in enumerate(zip(self.spans, own)):
                rec = {
                    "id": i,
                    "name": sp.name,
                    "start": sp.start,
                    "end": sp.end,
                    "parent": sp.parent,
                    "self_s": s,
                    "counters": sp.counters,
                    **sp.attrs,
                }
                f.write(json.dumps(rec) + "\n")
