"""In-memory spans recorded from the benchmark's side of each layer boundary.

A span is (id, name, start, end, parent, run id). Parents come from a
per-thread stack, so a span opened while another is open on the same
thread is its child. Spans stay in memory; the run writes them out at exit.
Wrappers are installed on classes for the duration of a ``with`` block
and removed afterwards, so an untraced run calls the program unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run = ""
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, time.perf_counter(), 0.0,
                                   stack[-1] if stack else None, self.run))
        stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    @contextlib.contextmanager
    def wrapped(self, targets: dict[str, tuple[type, str]]):
        """Record a span named ``key`` around every call of each
        ``cls.method`` in ``targets`` while the block runs."""
        saved = []
        for name, (cls, attr) in targets.items():
            orig = cls.__dict__[attr]
            saved.append((cls, attr, orig))

            def make(fn, span_name):
                @functools.wraps(fn)
                def call(*args, **kwargs):
                    with self.span(span_name):
                        return fn(*args, **kwargs)
                return call

            setattr(cls, attr, make(orig, name))
        try:
            yield
        finally:
            for cls, attr, orig in saved:
                setattr(cls, attr, orig)

    def self_ms(self, span: Span) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.id)
        covered, lo, hi = 0.0, None, None
        for a, b in kids:
            if hi is None or a > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = a, b
            else:
                hi = max(hi, b)
        if hi is not None:
            covered += hi - lo
        return span.ms - covered * 1000.0

    def named(self, name: str, run: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and (run is None or s.run == run)]
