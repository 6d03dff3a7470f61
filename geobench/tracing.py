"""In-memory spans around calls into the program's public functions.

The benchmark never edits the program: ``Tracer.instrument`` swaps a
module attribute for a wrapper that opens a span, so calls made through
the module (``ice.write_partitioned(...)`` inside ``pipeline.run``) nest
under their caller.  Every span also becomes the Spark job group while it
is innermost, which lets the event-log parser charge each job's task and
SQL metrics to the span that started it.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def group_id(sid: int) -> str:
    return f"span-{sid}"


class Tracer:
    """Span recorder for one client.  A span may open on another thread
    (a streaming foreachBatch callback) only while the thread that opened
    its parent waits, so one stack serves both."""

    def __init__(self, spark=None, clock=time.perf_counter):
        self.spark = spark
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group_id(span.sid), span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, self.clock(), parent=parent)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def instrument(self, module_name: str, layer: str, names: list[str]) -> None:
        """Wrap ``module.name`` for each name so calls open ``layer.name``."""
        mod = importlib.import_module(module_name)
        for name in names:
            orig = getattr(mod, name)
            setattr(mod, name, self._wrap(orig, f"{layer}.{name}"))
            self._patched.append((mod, name, orig))

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def restore(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """sid -> span duration minus the part of it its children cover
    (children clipped to the parent, overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.end is not None:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {s.sid: s.duration - _covered(kids.get(s.sid, [])) for s in spans}


def descendants(spans: list[Span], root: int) -> set[int]:
    """sids of ``root`` and everything nested under it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, ()))
    return out
