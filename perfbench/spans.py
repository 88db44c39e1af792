"""Spans recorded from outside the program.

A ``Tracer`` wraps public functions of the program's modules and records
one span per call: name, parent span, stage, start and end. Each wrapper
is installed on the name its caller looks up (a module attribute, a class
attribute or a ``FileFormat`` field) and removed again afterwards.

With a SparkContext the tracer also sets the Spark job group to the
innermost open span, so an event log attributes every job to the call
that ran it. Without one it records spans only; the untraced runs use
that to time the pipeline's stages and keep their return codes.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
import types
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

GROUP_PREFIX = "pb"


class Target(NamedTuple):
    """A function to wrap: ``owner.attr`` becomes span ``name``. ``owner``
    is an object or a dotted module path, optionally ``module:Class``."""

    owner: object
    attr: str
    name: str
    stage: str | None = None  # None: inherit the enclosing span's stage
    keep_result: bool = False
    key: Callable | None = None  # (args, kwargs) -> Span.key


@dataclass
class Span:
    sid: int
    name: str
    stage: str
    parent: int | None
    t0: float  # epoch seconds, the clock Spark's event log uses
    t1: float = 0.0
    result: object = None  # the return value, for targets that keep it
    key: str | None = None  # a label made from the call's arguments

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def covered(span_t0: float, span_t1: float, intervals) -> float:
    """Length of ``[span_t0, span_t1]`` covered by ``intervals``."""
    return union_length(
        (max(a, span_t0), min(b, span_t1)) for a, b in intervals if b > span_t0 and a < span_t1
    )


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.t0, s.t1))
    return {s.sid: (s.t1 - s.t0) - covered(s.t0, s.t1, children[s.sid]) for s in spans}


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span.group if span else None)

    @contextlib.contextmanager
    def span(self, name: str, stage: str | None = None):
        b0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, stage or (parent.stage if parent else name),
                 parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - b0
        try:
            yield s
        finally:
            s.t1 = time.time()
            b1 = time.perf_counter()
            self._open.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - b1

    def wrap(self, t: Target, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(t.name, t.stage) as s:
                if t.key is not None:
                    s.key = t.key(args, kwargs)
                out = fn(*args, **kwargs)
                if t.keep_result:
                    s.result = out
                return out

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Install a wrapper for each ``Target``; restore them on exit."""
        undo = []
        try:
            for t in targets:
                obj = _resolve(t.owner)
                original = getattr(obj, t.attr)
                _set(obj, t.attr, self.wrap(t, original))
                undo.append((obj, t.attr, original))
            yield self
        finally:
            for obj, attr, original in reversed(undo):
                _set(obj, attr, original)


def _set(obj, attr: str, value) -> None:
    if isinstance(obj, (type, types.ModuleType)):
        setattr(obj, attr, value)
    else:  # FileFormat is a frozen dataclass: bypass its __setattr__
        object.__setattr__(obj, attr, value)


def _resolve(owner):
    if not isinstance(owner, str):
        return owner
    module, _, cls = owner.partition(":")
    obj = importlib.import_module(module)
    return getattr(obj, cls) if cls else obj
