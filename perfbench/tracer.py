"""Outside-in tracer: spans around the package's public calls.

The tracer never edits the package. It replaces module attributes that
the workloads resolve at call time (``jobs.write_tsv``,
``delta_store.read_union``, ...) with timing wrappers, and puts the
originals back when the run ends. Spans stay in memory as (id, name,
start, end, parent, operation) and are written out once, at the end.

A span's parent is the innermost open span on the same thread; spans
opened on a thread with no open span (Structured Streaming runs
``foreachBatch`` bodies on a callback thread) inherit the operation id
set with :meth:`Tracer.operation` on that thread, if any.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable, Optional


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[str]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.notes: dict[int, dict] = {}  # span id -> facts recorded by hooks
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[Any, str, Any]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: Optional[str] = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None:
            op = parent.op if parent else getattr(self._tls, "op", None)
        s = Span(next(self._ids), name, time.perf_counter(), 0.0, parent.sid if parent else None, op)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def operation(self, op: str, name: str):
        """Top-level span of one workload operation; also tags spans that
        later open on other threads of the same operation."""
        self._tls.op = op
        with self.span(name, op) as s:
            yield s

    def note(self, span: Span, **facts) -> None:
        with self._lock:
            self.notes.setdefault(span.sid, {}).update(facts)

    # -- wrapping ----------------------------------------------------------
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        after: Optional[Callable[[Span, tuple, dict, Any], None]] = None,
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. Generator
        functions get one span per ``next()`` (the work of each yield).
        ``after(span, args, kwargs, result)`` runs once the span is closed,
        so its own cost is not charged to the layer."""
        orig = inspect.getattr_static(owner, attr)
        func = getattr(owner, attr)
        tracer = self

        if inspect.isgeneratorfunction(func):

            @functools.wraps(func)
            def wrapper(*args, **kwargs):
                gen = func(*args, **kwargs)
                while True:
                    with tracer.span(name) as s:
                        try:
                            item = next(gen)
                        except StopIteration:
                            item = s
                    if item is s:  # the call that found the generator done
                        tracer.note(s, exhausted=True)
                        return
                    if after:
                        after(s, args, kwargs, item)
                    yield item

        else:

            @functools.wraps(func)
            def wrapper(*args, **kwargs):
                with tracer.span(name) as s:
                    result = func(*args, **kwargs)
                if after:
                    after(s, args, kwargs, result)
                return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- analysis ----------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec.update(self.notes.get(s.sid, {}))
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its direct children cover (overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = s.dur - covered
    return out


class CountingOs:
    """Stand-in for a module's ``os`` that counts directory listings."""

    def __init__(self, real) -> None:
        self._real = real
        self.listings = 0

    def listdir(self, path="."):
        self.listings += 1
        return self._real.listdir(path)

    def scandir(self, path="."):
        self.listings += 1
        return self._real.scandir(path)

    def __getattr__(self, name):
        return getattr(self._real, name)
