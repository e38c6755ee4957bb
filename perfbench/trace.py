"""In-memory spans recorded at the benchmark's calls into the package.

A span has a name, start, end, parent span and request id.  Spans stay in
memory while the workload runs and are written out (JSON lines) when it
ends; self time — a span's duration minus the part of it its child spans
cover — is computed from them afterwards.  A disabled tracer records
nothing, so the untraced timing path pays one attribute check per call.

:class:`SparkWork` gives each traced operation a thread-local Spark job
group and reads the jobs, stages and tasks that group ran from the
status tracker.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    request: int | None
    name: str
    start_ns: int
    end_ns: int
    kind: str | None = None

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


class Tracer:
    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def on(self) -> bool:
        return self.enabled and not getattr(self._local, "mute", False)

    @contextmanager
    def request(self, kind: str, traced: bool = True):
        """Root span of one operation; its id tags every span inside it.
        ``traced=False`` mutes this thread for the operation, so a traced
        run can interleave untraced operations to measure the overhead."""
        if not self.enabled:
            yield
            return
        self._local.mute = not traced
        rid = next(self._ids)
        self._local.request = rid
        self._local.kind = kind
        try:
            with self.span("op", _span_id=rid):
                yield
        finally:
            self._local.request = None
            self._local.kind = None
            self._local.mute = False

    @contextmanager
    def span(self, name: str, _span_id: int | None = None):
        if not self.on():
            yield
            return
        stack = self._stack()
        sid = _span_id if _span_id is not None else next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            span = Span(
                sid,
                parent,
                getattr(self._local, "request", None),
                name,
                start,
                end,
                getattr(self._local, "kind", None),
            )
            with self._lock:
                self.spans.append(span)

    def named(self, name: str, kind: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (kind is None or s.kind == kind)]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its direct children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0
            cursor = s.start_ns
            for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start_ns):
                lo, hi = max(c.start_ns, cursor), min(c.end_ns, s.end_ns)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] += (s.end_ns - s.start_ns - covered) / 1e6
        return dict(out)

    def write(self, path: str) -> None:
        t0 = min((s.start_ns for s in self.spans), default=0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start_ns):
                f.write(
                    json.dumps(
                        {
                            "id": s.span_id,
                            "parent": s.parent,
                            "request": s.request,
                            "kind": s.kind,
                            "name": s.name,
                            "start_ms": round((s.start_ns - t0) / 1e6, 3),
                            "end_ms": round((s.end_ns - t0) / 1e6, 3),
                        }
                    )
                    + "\n"
                )


class SparkWork:
    """Per-operation Spark job/stage/task counts through job groups."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def begin(self, kind: str) -> str:
        with self._lock:
            group = f"perfbench-{kind}-{next(self._ids)}"
        # job groups are thread-local under PySpark's pinned-thread mode
        self.sc.setJobGroup(group, kind)
        self._local.group = group
        return group

    def jobs_so_far(self) -> int:
        """Jobs the calling thread's current operation has started."""
        group = getattr(self._local, "group", None)
        return len(self.tracker.getJobIdsForGroup(group)) if group else 0

    def end(self, group: str) -> dict[str, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._local.group = None
        jobs = stages = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (reused) stage
                stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
