"""In-memory spans around calls into the program's public functions.

A span records its name, start, end, parent, run id and attributes.
Spans stay in memory and are written out when the traced pass ends.
Self time is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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
    """Span id -> duration minus the union of its children's intervals
    (children may overlap each other when they run on several threads)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end or s.start)
        for s in spans
    }


class Tracer:
    """Span recorder. A span's parent is the innermost open span of the
    same thread; a span opened on a thread with none (a pool thread of a
    fan-out) is adopted by the innermost open span named in ``adopters``."""

    def __init__(self, run_id: str, adopters: tuple[str, ...] = ()) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._adopters = set(adopters)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open_adopters: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].id
            elif self._open_adopters:
                parent = self._open_adopters[-1].id
            else:
                parent = None
            s = Span(next(self._ids), name, time.time(), parent=parent,
                     run_id=self.run_id, attrs=dict(attrs))
            self.spans.append(s)
            if name in self._adopters:
                self._open_adopters.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if name in self._adopters:
                with self._lock:
                    self._open_adopters.remove(s)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a spanned version until uninstall()."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with tracer.span(name, **attrs):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
