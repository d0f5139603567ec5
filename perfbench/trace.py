"""Span tracer: wraps the engine's public functions from outside.

The tracer replaces module attributes (and class methods) with
wrappers that record a span per call — name, start, end, parent and
iteration id — and give each span its own Spark job group, so the
event log can attribute executor work to it (``eventlog.py``). Nothing
in the engine is edited: the wrappers work because ``cli.main`` and
the registry query functions look these names up at call time. A function that
another engine module imported by name at import time is replaced
there too (``Tracer.patch`` rebinds every alias it finds).

Spans stay in memory until the run ends. A span's self time is its
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    iteration: int | None
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb-{self.sid}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration
        - covered(children.get(s.sid, []), s.start, s.start + s.duration)
        for s in spans
    }


def subtree(spans: list[Span], root: int) -> list[Span]:
    """``root``'s span and all its descendants."""
    kids: dict[int, list[Span]] = {}
    by_id = {}
    for s in spans:
        by_id[s.sid] = s
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, stack = [], [by_id[root]]
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids.get(s.sid, []))
    return out


class Tracer:
    """Records spans while ``active``; ``patch`` installs wrappers.

    ``sc`` is the SparkContext whose job group each span sets; pass
    ``None`` to record spans without job groups (unit tests)."""

    def __init__(self, sc=None, clock: Callable[[], float] = time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.active = False
        self.iteration: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(next(self._ids), name, self.clock(), parent, self.iteration)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._set_group(self._stack[-1] if self._stack else None)

    def span(self, name: str):
        """Context manager recording ``name`` while the tracer is active."""
        return _SpanContext(self, name)

    # -- wrappers -------------------------------------------------------

    def wrap(self, name: str, fn: Callable, on_call=None) -> Callable:
        """``fn`` recorded as span ``name``; ``on_call(span, args,
        result)`` may add attributes after the call returns."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(span, args, result)
                return result
            finally:
                self.close(span)

        return wrapper

    def patch(self, owner, attr: str, name: str, on_call=None) -> bool:
        """Replace ``owner.attr`` with a recording wrapper. For a module
        function, every engine module holding the same object under any
        name is rebound too. Returns False when the target is missing
        (the span is then unmeasured, never an error)."""
        original = getattr(owner, attr, None)
        if original is None:
            return False
        wrapper = self.wrap(name, original, on_call)
        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("mongo2pq_spark") or mod is None:
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original and (mod, key) != (owner, attr):
                        targets.append((mod, key))
        for obj, key in targets:
            self._restore.append((obj, key, getattr(obj, key)))
            setattr(obj, key, wrapper)
        return True

    def unpatch(self) -> None:
        while self._restore:
            obj, key, value = self._restore.pop()
            setattr(obj, key, value)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer.active:
            self.span = self.tracer.open(self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer.close(self.span)
