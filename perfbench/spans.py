"""Spans recorded around the benchmark's calls into the package.

A span has a name, a start, an end and a parent; the spans of one job
share a trace id. Each span of a traced run sets its own Spark job group,
so the jobs a span fires can be read back from Spark's status API after
the job (outside the timed region). Spans stay in memory and are written
out when the run ends. With tracing off, ``span`` only yields.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    trace: int
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.trace}-{self.id}"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", span.group if span else None)
        self.sc.setLocalProperty("spark.job.description", span.name if span else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(self._trace, next(self._ids), parent.id if parent else None, name,
                 time.perf_counter(), attrs=attrs)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> Span:
        """Record a span measured by something other than this tracer (a
        streaming progress event, a gate timing line)."""
        s = Span(self._trace, next(self._ids), parent.id if parent else None, name, start,
                 end, attrs)
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id and c.trace == span.trace]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out

    def self_time(self, span: Span) -> float:
        """The span's duration minus the part its child spans cover."""
        covered, cur = 0.0, None
        for a, b in sorted((max(c.start, span.start), min(c.end, span.end))
                           for c in self.children(span)):
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        return (span.end - span.start) - covered

    def self_times(self) -> dict[str, float]:
        """Self time per span name, per trace that has such a span."""
        total: dict[str, float] = {}
        traces: dict[str, set[int]] = {}
        for s in self.spans:
            total[s.name] = total.get(s.name, 0.0) + self.self_time(s)
            traces.setdefault(s.name, set()).add(s.trace)
        return {n: t / len(traces[n]) for n, t in total.items()}

    def dump(self) -> list[dict]:
        return [
            {"trace": s.trace, "id": s.id, "parent": s.parent, "name": s.name,
             "start": s.start, "end": s.end, "self_s": self.self_time(s), **s.attrs}
            for s in self.spans
        ]
