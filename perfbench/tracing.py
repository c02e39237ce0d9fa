"""In-memory spans around calls into the library, recorded from outside it.

A span has a name, a trace id (shared by every span of one chunk drop or
one query), a start, an end and a parent. Spans are kept in a list and
only summarised when the run ends. Library functions are traced by
wrapping their class or module attribute for the duration of a traced
run (``Tracer.wrap``); ``Tracer.restore`` puts the originals back.
"""

from __future__ import annotations

import contextvars
import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    trace_id: str | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._current: contextvars.ContextVar[Span | None] = contextvars.ContextVar(
            "perfbench_span", default=None
        )
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._current.get()
        if trace_id is None and parent is not None:
            trace_id = parent.trace_id
        s = Span(
            sid=len(self.spans),
            name=name,
            trace_id=trace_id,
            parent=parent.sid if parent is not None else None,
            start=self.clock(),
        )
        self.spans.append(s)
        token = self._current.set(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._current.reset(token)

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper until restore();
        ``on_return(span, result)`` sees every call's span and the value
        the original returned."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = original(*args, **kwargs)
            if on_return is not None:
                on_return(s, result)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover
    (children may overlap each other, or run past the parent's end)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.duration - _covered(clipped)


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    """Direct children of every span that has any, by parent span id."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return children


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span, by span id."""
    children = children_of(spans)
    return {s.sid: self_time(s, children.get(s.sid, [])) for s in spans}


def descendants(children: dict[int, list[Span]], sid: int) -> list[Span]:
    """Every span below ``sid``, at any depth."""
    out, todo = [], list(children.get(sid, ()))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.sid, ()))
    return out
