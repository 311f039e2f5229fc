"""In-memory spans around calls into the engine's layers, plus Spark's
own per-call counters read through job groups.

A span has a name, start, end, parent and the operation (trace) it
belongs to. Spans stay in memory and are written once, at exit. A
span's self time is its duration minus the part of it that its child
spans cover. With tracing off, :class:`Tracer` hands out one shared
no-op context, so the untraced run pays nothing but a method call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    #: False for measurement-only calls the operation's clock excludes
    timed: bool = True

    @property
    def dur(self) -> float:
        return self.end - self.start


_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, op: str | None = None, timed: bool = True):
        """Context manager timing one call; nests under the caller's
        open span on the same thread and inherits its ``op``."""
        if not self.enabled:
            return _NULL
        return self._span(name, op, timed)

    @contextlib.contextmanager
    def _span(self, name: str, op: str | None, timed: bool):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        s = Span(
            id=sid,
            name=name,
            op=op if op is not None else (parent.op if parent else ""),
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            timed=timed and (parent.timed if parent else True),
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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
    """Span id → duration minus the union of its children, each child
    clipped to the parent's interval."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = union_length(
            [
                (max(c.start, s.start), min(c.end, s.end))
                for c in kids.get(s.id, [])
                if c.end > s.start and c.start < s.end
            ]
        )
        out[s.id] = s.dur - covered
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Summed self time per layer over timed spans, the layer being the
    span name up to its first dot (``sinks.append`` → ``sinks``)."""
    spans = [s for s in spans if s.timed]
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s.id]
    return out


# Spark counters ------------------------------------------------------------
@dataclass
class SparkCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_wall_ms: float = 0.0

    def __iadd__(self, o: "SparkCounters") -> "SparkCounters":
        for k in asdict(self):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        return self


class JobGroups:
    """Tags each traced call with a Spark job group and, afterwards,
    reads that group's jobs and stages from Spark's status store (which
    stays readable with the UI off)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._seq = itertools.count()

    def start(self, label: str) -> str:
        group = f"pb-{next(self._seq)}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def stop(self) -> None:
        self.sc.setJobGroup(None, None)

    def read(self, group: str) -> SparkCounters:
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        out = SparkCounters()
        intervals: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            out.jobs += 1
            job = store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime(), done.get().getTime())
                )
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        empty = sc._gateway.new_array(jvm.double, 0)
        for sid in stage_ids:
            attempts = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, empty
            )
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
                    continue  # skipped: its output was reused
                out.stages += 1
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.executor_run_ms += st.executorRunTime()
                out.gc_ms += st.jvmGcTime()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.job_wall_ms = union_length(intervals)
        return out
