"""Spans and Spark counters, taken from outside the engine.

``Tracer`` records one span per call into a layer: name, start, end,
parent and the run id shared by every span of the run. Spans stay in
memory and are written out once, at the end. A disabled tracer hands
out a shared no-op span so the untraced path pays one attribute test.

``SparkProbe`` reads the driver's own counters for a window of work:
the jobs launched between two points (Spark numbers jobs in launch
order), their stages' task metrics from the status store, the
Catalyst phase times of a built plan, and the memory of the driver JVM
and of this Python process. It works with the Spark UI
disabled.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class _NoSpan:
    id = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    """In-memory span recorder. Parents default to the innermost open
    span of the calling thread; work that runs on another thread (a
    streaming query's ``foreachBatch`` callback) names its parent."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def _span(self, name: str, parent: int | None, attrs: dict):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            span = Span(next(self._ids), name, parent, time.perf_counter(), attrs=attrs)
            self.spans.append(span)
        stack.append(span.id)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            return _NO_SPAN
        return self._span(name, parent, attrs)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's
        intervals (children may overlap when they run on threads)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = (s.end - s.start - covered) * 1000.0
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_ms()
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = {
                    "run": self.run_id,
                    "id": s.id,
                    "parent": s.parent,
                    "name": s.name,
                    "start_ms": round((s.start - t0) * 1000.0, 3),
                    "end_ms": round((s.end - t0) * 1000.0, 3),
                    "self_ms": round(selfs[s.id], 3),
                    **s.attrs,
                }
                fh.write(json.dumps(rec) + "\n")


@dataclass
class ExecTotals:
    """Spark execution counters summed over a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    ms: float = 0.0  # job wall time, submission to completion
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: float = 0.0

    def add(self, other: ExecTotals) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _ms(opt_date) -> float | None:
    return float(opt_date.get().getTime()) if opt_date.isDefined() else None


class SparkProbe:
    """Driver-side counters through py4j. Every method is read-only."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()

    def job_mark(self) -> int:
        """Number of jobs launched so far; a later mark minus an earlier
        one counts the jobs launched in between."""
        return int(self._sc.dagScheduler().numTotalJobs())

    def exec_totals(self, first_job: int, end_job: int) -> ExecTotals:
        """Counters of jobs ``[first_job, end_job)`` from the status
        store, after the listener bus has delivered their events.
        Skipped stages (reused shuffle output) count as stages but
        carry no task metrics."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = ExecTotals()
        for j in range(first_job, end_job):
            try:
                jd = store.job(j)
            except Exception:  # noqa: BLE001 — evicted or unknown job id
                continue
            out.jobs += 1
            t0, t1 = _ms(jd.submissionTime()), _ms(jd.completionTime())
            if t0 is not None and t1 is not None:
                out.ms += t1 - t0
            for sid in (int(x) for x in jd.stageIds().mkString(",").split(",") if x):
                out.stages += 1
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage never ran
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out.tasks += int(sd.numTasks())
                out.executor_run_ms += float(sd.executorRunTime())
                out.executor_cpu_ms += float(sd.executorCpuTime()) / 1e6
                out.shuffle_write_bytes += int(sd.shuffleWriteBytes())
                out.spill_bytes += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                out.gc_ms += float(sd.jvmGcTime())
        return out

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Plan ``df`` (without running it) and return the analysis,
        optimization and planning times its QueryExecution recorded."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """High-water RSS of the driver JVM plus this Python process."""
        return (_proc_kb(self.jvm_pid(), "VmHWM") + _proc_kb(os.getpid(), "VmHWM")) / 1024.0

    def retained_mb(self) -> float:
        """Memory the driver still holds: the JVM heap in use after a full
        collection plus this Python process's resident set after one."""
        gc.collect()
        jvm = self.spark._jvm
        for _ in range(2):  # the second collection also frees what the first finalized
            jvm.System.gc()
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap_mb = int(bean.getHeapMemoryUsage().getUsed()) / 2**20
        rss_mb = _proc_kb(os.getpid(), "VmRSS") / 1024.0
        return heap_mb + rss_mb


def _proc_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {field} for pid {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
