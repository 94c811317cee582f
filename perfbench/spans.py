"""Spans around the benchmark's calls into the program's layers.

Every timed call goes through :meth:`Tracer.span`. With tracing off a
span only measures wall time. With tracing on it also tags the Spark jobs
the call starts with a job group of its own and, when the call returns,
attaches the status-store record of those jobs: jobs, stages, tasks,
executor run / CPU / GC ms, shuffle bytes, spill, driver-only ms (wall
time outside every job's run interval) and the driver JVM's GC ms. Spans
stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

#: Keys of the status-store record attached to every traced span.
RECORD_KEYS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "executor_gc_ms", "jvm_gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "driver_only_ms",
)


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float = 0.0      # epoch seconds
    end: float = 0.0
    wall_ms: float = 0.0
    attrs: dict = field(default_factory=dict)
    record: dict | None = None


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed call as one span named after the layer call."""
        parent = self._stack[-1].op_id if self._stack else None
        s = Span(name, len(self.spans), parent, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        group = f"perfbench-{id(self):x}-{s.op_id}"
        if self.enabled:
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
            gc0 = self._jvm_gc_ms()
        s.start = time.time()
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_ms = (time.perf_counter() - t0) * 1e3
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                gc_ms = self._jvm_gc_ms() - gc0
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, self._stack[-1].name)
                s.record = self._record(group, s)
                s.record["jvm_gc_ms"] = gc_ms

    def _jvm_gc_ms(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def _record(self, group: str, s: Span) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        rec = dict.fromkeys(RECORD_KEYS, 0)
        intervals = []
        stage_ids = set()
        job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            job = store.job(jid)
            t_sub, t_end = job.submissionTime(), job.completionTime()
            if t_sub.isDefined() and t_end.isDefined():
                intervals.append((t_sub.get().getTime(), t_end.get().getTime()))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        rec["jobs"] = len(job_ids)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a skipped stage has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            rec["executor_run_ms"] += st.executorRunTime()
            rec["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            rec["executor_gc_ms"] += st.jvmGcTime()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(intervals):
            lo, hi = max(lo, s.start * 1e3), min(hi, s.end * 1e3)
            if cur_hi is None or lo > cur_hi:
                busy += (cur_hi - cur_lo) if cur_hi is not None else 0
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        busy += (cur_hi - cur_lo) if cur_hi is not None else 0
        rec["driver_only_ms"] = max(0.0, s.wall_ms - busy)
        return rec

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]) + "\n")
