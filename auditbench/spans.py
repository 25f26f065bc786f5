"""In-memory spans around calls into the engine's layers.

Spans are recorded by wrapping public functions and methods from the
outside (``Tracer.wrap``); the engine itself is not edited. Each span has
a name, start, end and parent. A span started on a thread with no open
span of its own (Structured Streaming runs ``foreachBatch`` on its own
thread) takes as parent the innermost open span of the thread that
created the tracer, so a micro-batch nests under the call that is
waiting for it.

A layer's self time is its span's duration minus the part of that
interval its child spans cover (``self_times``).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root_stack = self._stack()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        if stack:
            parent = stack[-1]
        else:
            parent = self._root_stack[-1] if self._root_stack else None
        stack.append(sid)
        start = self.clock()
        try:
            yield sid
        finally:
            end = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or method) with a wrapper
        that records a span named ``name`` around every call."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, owner.__dict__.get(attr, original)))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's
    intervals, each child clipped to the parent's interval."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            children.setdefault(p.id, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {
        s.id: (s.end - s.start) - union_length(
            [iv for iv in children.get(s.id, []) if iv[1] > iv[0]]
        )
        for s in spans
    }

