"""Span tracing installed from the benchmark's own files.

``Tracer.wrap`` replaces the attribute a caller actually looks up — a
module global bound at import (``sydraql.engine`` binds ``parse`` and
``validate`` that way), a module attribute imported at call time, or a
class attribute found through an instance — with a wrapper that records
one span per call: name, start, end, parent span and the request id shared
by every span of one request. Spans stay in memory until the run ends.
``uninstall`` puts every original back.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    rid: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object, bool]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        """Record a span around the block; ``rid`` defaults to the enclosing
        span's request id."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), float("nan"), parent, rid))
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str, around=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``around``,
        when given, is a context-manager factory called with the call's
        arguments that replaces the plain span (request roots use it)."""
        had = attr in vars(owner)
        orig = getattr(owner, attr)
        tracer = self

        if around is None:

            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

        else:

            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                with around(*args, **kwargs):
                    return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, had))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig, had = self._patches.pop()
            if had:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out.setdefault(s.parent, []).append(i)
        return out


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_time(spans: list[Span], idx: int, children: dict[int, list[int]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    s = spans[idx]
    kids = [(spans[k].start, spans[k].end) for k in children.get(idx, [])]
    return s.duration - covered(s.start, s.end, kids)
