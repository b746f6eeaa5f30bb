"""In-memory spans for the traced run.

A span records name, start, end, parent and the run/repetition it belongs
to. Spans are kept in a list and written out once, when the run ends.
Self time is a span's duration minus the part of it that its children
cover (children of one parent may overlap; the union is subtracted once).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass
from typing import Optional


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    rep: str


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """{span id: duration minus the union of its children's intervals},
    children clipped to the parent's interval."""
    kids = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids[s.parent].append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.id: (s.end - s.start) - covered([iv for iv in kids[s.id] if iv[1] > iv[0]])
        for s in spans
    }


class Tracer:
    """Collects spans; `span()` is a context manager, `wrap()` a decorator
    that records one span per call of the wrapped function."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list = []
        self._stack: list = []
        self._next = 0
        self.rep = "0"

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def totals(self, rep: Optional[str] = None, self_time: bool = True) -> dict:
        """{name: summed self (or total) time} over spans of one rep or all."""
        spans = [s for s in self.spans if rep is None or s.rep == rep]
        st = self_times(spans) if self_time else {s.id: s.end - s.start for s in spans}
        out: dict = defaultdict(float)
        for s in spans:
            out[s.name] += st[s.id]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    __slots__ = ("t", "name", "id", "parent", "start")

    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        self.id = t._next
        t._next += 1
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.id)
        self.start = t.clock()
        return self

    def __exit__(self, *exc):
        t = self.t
        end = t.clock()
        t._stack.pop()
        t.spans.append(Span(self.id, self.name, self.start, end, self.parent, t.rep))
        return False
