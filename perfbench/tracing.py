"""Spans recorded by the benchmark around its calls into each layer.

Spans stay in memory during the run and are written out once at the end.
A span's self time is its duration minus the part of it that its child
spans cover, so the self times of a subtree add up to its root's wall.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = Span(
            next(self._ids), name, time.perf_counter(), 0.0,
            self._open[-1] if self._open else None, self.run_id, attrs,
        )
        self._open.append(rec.span_id)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._open.pop()
            self.spans.append(rec)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span timed elsewhere (e.g. a micro-batch inside the JVM)
        as a child of the innermost open span."""
        if self.enabled:
            self.spans.append(Span(
                next(self._ids), name, start, end,
                self._open[-1] if self._open else None, self.run_id, attrs,
            ))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children, each child
    clipped to the parent's interval."""
    by_id = {s.span_id: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        parent = by_id.get(s.parent)
        if parent is not None:
            children.setdefault(parent.span_id, []).append(
                (max(s.start, parent.start), min(s.end, parent.end))
            )
    return {
        s.span_id: (s.end - s.start) - _covered(children.get(s.span_id, []))
        for s in spans
    }


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, stack = [], [root]
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids.get(s.span_id, []))
    return out


def self_by_name(spans: list[Span], root: Span) -> dict[str, float]:
    """Self time summed per span name over ``root``'s subtree; the values
    add up to ``root``'s duration."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in subtree(spans, root):
        out[s.name] = out.get(s.name, 0.0) + selfs[s.span_id]
    return out
