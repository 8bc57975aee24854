"""In-memory span recorder and Spark job accounting for the traced run.

A span has a name, a layer (the part of the name before the first dot),
start and end times, the span that caused it and the operation it belongs
to. Spans stay in memory and are written out once, when the run ends.

Spark work is attributed to operations through job groups: the thread that
runs an operation sets the group to the operation id, and the status
tracker later lists the jobs, stages and tasks of each group.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Records spans per thread while ``recording``. Wrappers are installed
    only on a tracer made for a traced run (``installed``); they cost one
    flag test per call while recording is off."""

    def __init__(self, installed: bool, spark=None):
        self.installed = installed
        self.recording = installed
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # -- operations ------------------------------------------------------------

    def operation(self, op: str) -> None:
        """Mark the current thread's further work (spans and Spark jobs) as
        ``op``. Not undone: a streamed response keeps running Spark jobs in
        the request thread after the handler returns."""
        if self.recording:
            self._local.op = op
            self.spark.sparkContext.setJobGroup(op, op, interruptOnCancel=False)

    def end_operation(self) -> None:
        """Stop marking the current thread's work, so untraced jobs that
        follow are not counted in the last operation's group."""
        if self.installed:
            self._local.op = None
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- spans -----------------------------------------------------------------

    def open(self, name: str) -> Span | None:
        if not self.recording:
            return None
        stack = self._stack()
        span = Span(next(self._ids), name, time.perf_counter(), None,
                    stack[-1].id if stack else None, getattr(self._local, "op", None))
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        if span in stack:
            del stack[stack.index(span):]

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def spanned(self, fn, name: str):
        """``fn`` with every call inside a span called ``name``."""
        tracer = self

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return call

    def wrap(self, owner, attr: str, name: str) -> None:
        """On a traced run, replace ``owner.attr`` with a spanned call."""
        if self.installed:
            setattr(owner, attr, self.spanned(getattr(owner, attr), name))

    # -- summaries ---------------------------------------------------------------

    def outermost(self, name: str) -> list[Span]:
        """Closed spans called ``name`` with no ancestor of the same name
        (a recursive call is not counted twice)."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name or s.end is None:
                continue
            p = by_id.get(s.parent)
            while p is not None and p.name != name:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def per_op(self, name: str) -> dict[str | None, float]:
        """Seconds spent in spans called ``name``, summed per operation."""
        out: dict[str | None, float] = defaultdict(float)
        for s in self.outermost(name):
            out[s.op] += s.end - s.start
        return dict(out)

    def self_times(self, ops=None, by_name: bool = False) -> dict[str, float]:
        """Seconds per layer (or per span name), each span minus the part
        its children cover; only spans of ``ops`` when given."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.end is None or (ops is not None and s.op not in ops):
                continue
            covered, cursor = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name if by_name else s.layer] += (s.end - s.start) - covered
        return dict(out)

    def spark_counts(self, ops) -> dict[str, dict[str, int]]:
        """{op: {jobs, stages, tasks, failed_tasks}} from the status tracker."""
        tracker = self.spark.sparkContext.statusTracker()
        out = {}
        for op in ops:
            jobs = tracker.getJobIdsForGroup(op)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for sid in stages:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
            out[op] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                       "failed_tasks": failed}
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
