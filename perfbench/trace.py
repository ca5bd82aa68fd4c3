"""Spans recorded from the benchmark's own files, around calls into the
program's public functions.

A span is (name, start, end, parent, run id). Spans stay in memory and are
written out once, when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.

Spark is lazy: a span around a function that only builds a plan measures
plan building. Such calls are also recorded with their arguments, so the
traced run can later force each one on cached inputs (:meth:`Tracer.force`).
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: duration minus the union of its children's
    intervals, clipped to the span."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append((s.end - s.start) - covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    totals: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        totals[s.name] = totals.get(s.name, 0.0) + t
    return totals


@dataclass
class LazyCall:
    name: str
    fn: Callable
    args: tuple
    kwargs: dict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.lazy_calls: list[LazyCall] = []
        self.run_id = ""
        self._stack: list[int] = []
        self._undo: list[Callable[[], None]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def _wrap(self, fn: Callable, name: str, lazy: bool) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if lazy:
                self.lazy_calls.append(LazyCall(name, fn, args, kwargs))
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module: str, attr: str, name: str, lazy: bool = False) -> None:
        """Trace ``module.attr`` and every loaded program module that imported
        the same object by name. ``attr`` may be ``Class.method``."""
        owner = importlib.import_module(module)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(owner, cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, self._wrap(orig, name, lazy))
            self._undo.append(lambda: setattr(cls, meth, orig))
            return
        orig = getattr(owner, attr)
        traced = self._wrap(orig, name, lazy)
        for mod in list(sys.modules.values()):
            if (mod is not None and getattr(mod, "__name__", "").startswith("wpextract_spark")
                    and getattr(mod, attr, None) is orig):
                setattr(mod, attr, traced)
                self._undo.append(lambda mod=mod: setattr(mod, attr, orig))

    def unpatch(self) -> None:
        while self._undo:
            self._undo.pop()()

    def force(self, call: LazyCall, noop: Callable[[Any], None]) -> float:
        """Seconds to compute one recorded lazy call on cached inputs: every
        DataFrame argument is cached and counted first, then the call's
        result is computed into the ``noop`` sink inside a span."""
        from pyspark.sql import DataFrame

        cached = []

        def cache(value):
            if isinstance(value, DataFrame):
                value = value.cache()
                value.count()
                cached.append(value)
            elif isinstance(value, (list, tuple)):
                value = type(value)(cache(v) for v in value)
            return value

        args = tuple(cache(a) for a in call.args)
        kwargs = {k: cache(v) for k, v in call.kwargs.items()}
        try:
            t0 = time.perf_counter()
            with self.span(f"{call.name}.forced"):
                noop(call.fn(*args, **kwargs))
            return time.perf_counter() - t0
        finally:
            for df in cached:
                df.unpersist()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))
