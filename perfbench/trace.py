"""Span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files, around the calls into
each layer of the package (``install`` swaps module and class attributes
for timing wrappers and ``restore`` puts the originals back).  Each span
keeps its name, start, end, parent span and op id; spans stay in memory
until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
from contextlib import contextmanager
from time import perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.op_root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        # a span opened on a pool thread (a portfolio start) hangs off the
        # op's root span, since its thread has no enclosing span of its own
        parent = stack[-1]["id"] if stack else self.op_root
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "op": self.op_id, "start": perf_counter(), "end": None, **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def op(self, op_id: int):
        self.op_id = op_id
        with self.span("op") as rec:
            self.op_root = rec["id"]
            try:
                yield rec
            finally:
                self.op_root = None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording one span per call."""
        fn = getattr(owner, attr)
        self._saved.append((owner, attr, fn))

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def of_op(self, op_id: int) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["op"] == op_id]


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it that child spans cover (children on
    concurrent threads may overlap; their union is subtracted once)."""
    cover = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans if c["parent"] == span["id"]
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in cover:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return duration(span) - covered


def total(spans: list[dict], name: str) -> float:
    return sum(duration(s) for s in spans if s["name"] == name)


class JobCounter:
    """Counts the Spark jobs a block of driver-thread code launches, via a
    job group and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = itertools.count(1)

    @contextmanager
    def group(self):
        gid = f"perfbench-{next(self._n)}"
        self.sc.setJobGroup(gid, gid)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            # the status tracker learns of jobs from the listener bus, which
            # runs behind the scheduler: drain it, or the last jobs of the
            # block may not be counted yet
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            box["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))
