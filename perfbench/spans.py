"""In-memory spans for the traced run, recorded only from benchmark code.

A span has a name, start and end (wall seconds), the id of the span
that caused it, and an operation id shared by all spans of one pass,
question, micro-batch or trigger. `Tracer.wrap` replaces a public
function or method of the engine with a recording wrapper for the
duration of a `with` block and restores the original afterwards; no
engine file is edited. Spans are kept in memory and written out once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None = None
    op: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span store plus per-thread stacks that give wrapped calls their parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(
        self, name: str, start: float, end: float, parent: int | None = None, op: str | None = None
    ) -> Span:
        """Record a finished span whose times the caller measured itself."""
        with self._lock:
            span = Span(next(self._ids), name, start, end, parent, op)
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the block as a child of the innermost open span of this thread."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = Span(0, name, time.time(), 0.0, parent.span_id if parent else None,
                    op if op is not None else (parent.op if parent else None))
        with self._lock:
            span.span_id = next(self._ids)
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            span.end = time.time()
            with self._lock:
                self.spans.append(span)

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str, on_result=None, root_only: bool = False):
        """Record a span around every call of `owner.attr` inside the block.

        `on_result(args, kwargs, result, span)` may read counts off a call
        (it must not change the result). With `root_only`, only calls made
        outside any open span of their thread are recorded, so wrapping a
        generic method (a Spark action or write) leaves the self time of
        the engine spans that call it unchanged. The original is restored
        on exit.
        """
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if root_only and tracer._stack():
                return original(*args, **kwargs)
            with tracer.span(name) as span:
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, result, span)
            return result

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s.start, s.span_id)):
                f.write(json.dumps(asdict(s)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
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
    """span_id → the span's duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.dur - _covered(children.get(s.span_id, []), s.start, s.end) for s in spans
    }


def covered_share(spans: list[Span], root: Span) -> float:
    """Share of `root`'s wall time covered by the union of `spans`."""
    if root.dur <= 0:
        return 1.0
    return _covered([(s.start, s.end) for s in spans], root.start, root.end) / root.dur


class TimingLLM:
    """Proxy for the agent's driver-side LLM that counts and times calls."""

    def __init__(self, inner) -> None:
        self.inner = inner
        self.calls = 0
        self.seconds = 0.0

    def complete(self, prompt: str) -> str:
        t0 = time.perf_counter()
        try:
            return self.inner.complete(prompt)
        finally:
            self.seconds += time.perf_counter() - t0
            self.calls += 1
