"""Spans and Spark status-store counters for the traced run.

A span records one call into a layer: name, start, end, parent span and
the request or quarter id it belongs to. Spans live in memory and are
written out once, when the run ends. Each span that wraps engine work
also tags its Spark jobs with a job group, so the stages that the call
launched can be read back from the status store
(``sc._jsc.sc().statusStore()``) when the span closes.

With tracing off, :class:`Tracer` hands out a no-op span, so the timed
code is the same in both kinds of run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class StageTotals:
    """Counters summed over the stages that one call launched."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    slot_wait_ms: float = 0.0  # summed submission -> first task launch

    def add(self, other: "StageTotals") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Span:
    name: str
    rid: str
    start: float
    parent: int | None
    sid: int
    end: float = 0.0
    stages: StageTotals | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class _NullSpan:
    stages = None

    def __init__(self):
        self.attrs: dict = {}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, rid: str = "", spark_work: bool = False):
        """Time one layer call. ``spark_work`` also collects the status-store
        counters of the jobs the calling thread starts inside it; such a
        span must not contain another ``spark_work`` span."""
        if not self.enabled:
            yield _NullSpan()
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        sp = Span(name, rid, 0.0, stack[-1].sid if stack else None, sid)
        group = f"perfbench-{sid}" if spark_work else None
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sp.stages = self.stage_totals(group)
            with self._lock:
                self.spans.append(sp)

    def stage_totals(self, group: str) -> StageTotals:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = StageTotals()
        tracker = sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out.jobs += 1
            for stage_id in info.stageIds:
                out.add(_stage(store, stage_id))
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.sid] = s.dur - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in sorted(self.spans, key=lambda s: s.start):
            row = {
                "name": s.name,
                "id": s.sid,
                "parent": s.parent,
                "rid": s.rid,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(selfs[s.sid], 6),
            }
            if s.stages is not None:
                row["spark"] = asdict(s.stages)
            if s.attrs:
                row["attrs"] = s.attrs
            rows.append(row)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _stage(store, stage_id: int) -> StageTotals:
    try:
        st = store.lastStageAttempt(stage_id)
    except Exception:  # py4j error: stage evicted from the store
        return StageTotals()
    if str(st.status()) == "SKIPPED":
        return StageTotals()
    wait = 0.0
    sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
    if sub.isDefined() and first.isDefined():
        wait = max(0.0, float(first.get().getTime() - sub.get().getTime()))
    return StageTotals(
        stages=1,
        tasks=st.numCompleteTasks(),
        executor_run_ms=float(st.executorRunTime()),
        shuffle_write_bytes=st.shuffleWriteBytes(),
        shuffle_read_bytes=st.shuffleReadBytes(),
        spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
        input_records=st.inputRecords(),
        slot_wait_ms=wait,
    )
