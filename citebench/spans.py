"""Outside-in tracing: spans recorded by the benchmark around each call
into one of the package's layers, one Spark job group per span.

A span has a name (``<layer>.<call>``), start and end times, the span
that caused it and the op it belongs to. Each span runs its Spark jobs
under its own job group, so ``SparkContext.statusTracker()`` can count
the jobs, stages and tasks behind it; counts are read after the op
finishes, outside its timed interval. Spans stay in memory and are
written out once, by :meth:`Tracer.dump`.

A disabled tracer records nothing and sets no job group, so untraced
ops run exactly as they would without it.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = (
        "sid", "name", "parent", "op", "phase", "start", "end",
        "group", "attrs", "jobs", "stages", "tasks", "failed_tasks",
    )

    def __init__(self, sid, name, parent, op, phase):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.phase = phase
        self.start = time.perf_counter()
        self.end = None
        self.group = f"citebench-{sid}"
        self.attrs: dict = {}
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Collects the spans of the benchmark's (single) client thread.
    ``sc`` is the current SparkContext, reassigned when a set-up
    repetition starts a fresh one."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, enabled: bool = True, op=None, phase=None):
        """Time the enclosed block as span ``name``; ``op`` and
        ``phase`` default to those of the enclosing span."""
        if not enabled:
            yield None
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        s = Span(
            next(self._ids),
            name,
            parent.sid if parent else None,
            op if op is not None else (parent.op if parent else None),
            phase if phase is not None else (parent.phase if parent else None),
        )
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def _set_group(self, s) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def count_jobs(self, spans) -> None:
        """Fill job/stage/task counts for ``spans`` from the status
        tracker. Stages that ran no task (skipped, reused shuffle
        output) are not counted."""
        st = self.sc.statusTracker()
        for s in spans:
            jobs = st.getJobIdsForGroup(s.group)
            s.jobs = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue
                    s.stages += 1
                    s.tasks += si.numCompletedTasks
                    s.failed_tasks += si.numFailedTasks

    def op_spans(self, op) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.as_dict(), sort_keys=True) + "\n")


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus its children's: children run one after
    another inside their parent, on the same thread."""
    return span.duration - sum(c.duration for c in children)
