"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, request id). Spans are opened from the
benchmark's own code around calls into a layer's public functions; nothing
inside the program under test is instrumented. Spans stay in memory and are
written out once, when the run ends.

Parent links follow the opening thread's stack. A request served on another
thread (the HTTP facade's handler threads) joins its client's request with
:meth:`Tracer.adopt`, so server-side spans become children of the client's
root span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """Collects the spans of requests when ``enabled``; otherwise every
    call is a no-op."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._roots: dict[str, int] = {}

    def _stack(self) -> list[tuple[int | None, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        """Record one span around the body. A span opened with *request*
        and no open parent becomes that request's root. Outside any
        request nothing is recorded."""
        stack = self._stack()
        parent, inherited = stack[-1] if stack else (None, None)
        req = request if request is not None else inherited
        if not self.enabled or req is None:
            yield
            return
        sid = next(self._ids)
        if parent is None and req is not None:
            with self._lock:
                self._roots[req] = sid
        stack.append((sid, req))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, req))

    def current_request(self) -> str | None:
        """The request this thread is working for, if any."""
        stack = self._stack()
        return stack[-1][1] if stack else None

    @contextlib.contextmanager
    def adopt(self, request: str | None):
        """Make spans opened on this thread children of *request*'s root."""
        if not self.enabled or request is None:
            yield
            return
        with self._lock:
            root = self._roots.get(request)
        stack = self._stack()
        stack.append((root, request))
        try:
            yield
        finally:
            stack.pop()

    def dump(self, path: str) -> None:
        """Write the spans out, one JSON object a line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of *intervals*, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start) - covered(
            [(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def layer_of(name: str) -> str:
    """Span names are ``<layer>.<operation>``."""
    return name.split(".", 1)[0]


def self_share(spans: list[Span], roots: list[Span],
               prefixes: tuple[str, ...]) -> float:
    """Share of the roots' total time spent in the self time of the spans
    of the roots' requests whose names start with one of *prefixes*."""
    total = sum(r.end - r.start for r in roots)
    if total <= 0:
        return 0.0
    reqs = {r.request for r in roots}
    own = self_times(spans)
    return sum(own[s.id] for s in spans
               if s.request in reqs and s.name.startswith(prefixes)) / total
