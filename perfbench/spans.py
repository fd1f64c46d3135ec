"""In-memory spans recorded from outside the program.

A span is (name, start, end, parent, trace id, attributes). The benchmark
opens spans around its own calls into the engine and, in traced runs,
around engine functions it wraps by replacing module attributes for the
life of the process. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    trace: int
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when `enabled`; otherwise `span` only times.

    Times are wall-clock seconds since the epoch, so that spans line up
    with the submission and completion times of Spark jobs.

    The current span is tracked per thread. A span opened on a thread
    with no current span takes `handoff` as its parent, which is how a
    client request span parents the server-side span that runs on the
    server's handler thread.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.handoff: Span | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self.handoff

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        """Time a block; yields the Span (recorded only when enabled).
        A span with `new_trace` starts a trace of its own (one per
        operation) while still nesting under the current span."""
        parent = self.current()
        sid = next(self._ids)
        s = Span(sid, name, time.time(), parent.id if parent else None,
                 parent.trace if parent and not new_trace else sid, attrs=attrs)
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.enabled:
                with self._lock:
                    self.spans.append(s)

    def wrap(self, owner: object, attr: str, name: str,
             before=None, after=None) -> None:
        """Replace `owner.attr` with a wrapper that records a span named
        `name` around each call. Inside the span, `before(span, args,
        kwargs)` runs before the call and `after(span, result)` after it;
        `unwrap_all` restores the original."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                if before is not None:
                    before(s, args, kwargs)
                result = original(*args, **kwargs)
                if after is not None:
                    after(s, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "trace": s.trace, "attrs": s.attrs}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in children.get(s.id, []) if b > s.start and a < s.end]
        out[s.id] = s.duration - union_length(clipped)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out
