"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op). The benchmark opens spans only
in its own files, around calls into the engine's modules; the span name
is the layer (`client`, `streaming`, `otlp`, `sinks`, `sources`). Spans
may close on another thread than the client's (the streaming engine runs
`foreachBatch` on its own thread): those attach to the operation's root
span, which is what caused them.

A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._op = -1
        self._root: int | None = None

    def _new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def op(self, op_id: int):
        """Root span of one operation; spans opened on any thread while
        it is open belong to this operation."""
        if not self.active:
            yield
            return
        sid = self._new_id()
        self._op, self._root = op_id, sid
        self._stack().append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack().pop()
            self._root = None
            with self._lock:
                self.spans.append(Span(sid, "client", start, end, None, op_id))

    @contextmanager
    def span(self, name: str):
        if not self.active or self._root is None:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        op = self._op
        sid = self._new_id()
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def wrap(self, name: str, fn):
        """`fn` with a span around every call made while tracing is on."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times_ms(self) -> dict[str, float]:
        """Mean self time per operation, in ms, for every layer name."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        ops = {s.op for s in self.spans}
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.sid]]
            )
            totals[s.name] += (s.end - s.start) - covered
        n = max(1, len(ops))
        return {name: 1000.0 * t / n for name, t in totals.items()}

    def totals_ms(self) -> dict[str, float]:
        """Mean total span time per operation, in ms, for every name."""
        ops = {s.op for s in self.spans}
        totals: dict[str, float] = defaultdict(float)
        for s in self.spans:
            totals[s.name] += s.end - s.start
        n = max(1, len(ops))
        return {name: 1000.0 * t / n for name, t in totals.items()}

    def dump(self) -> list[dict]:
        return [s.__dict__.copy() for s in sorted(self.spans, key=lambda s: s.start)]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length the intervals cover, overlaps counted once."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
