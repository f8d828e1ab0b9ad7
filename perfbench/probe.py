"""Measurement plumbing read from outside the engine: spans, Spark
scheduler counters, JVM GC time and process memory.

A span is recorded around each layer call the benchmark makes: name,
start, end, parent span and op id. Spans stay in memory and are written
out once, when the run ends. Scheduler
counters are read by job-id range (the DAGScheduler's job counter
before and after the call), so jobs that the engine submits from its
own pool threads are counted too; a thread-local job group would miss
them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


class SparkCounters:
    """Jobs, completed tasks and JVM GC milliseconds, read through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._status = sc.statusTracker()
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        return int(self._dag.numTotalJobs())

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def tasks(self, first_job: int, end_job: int) -> int:
        """Completed tasks of jobs ``[first_job, end_job)``; raises if the
        status tracker does not know one of them, so a job counted by
        range but never seen by the scheduler cannot pass silently."""
        n = 0
        for jid in range(first_job, end_job):
            info = self._status.getJobInfo(jid)
            if info is None:
                raise RuntimeError(f"job {jid} unknown to the status tracker")
            for sid in info.stageIds:
                stage = self._status.getStageInfo(sid)
                n += stage.numCompletedTasks if stage is not None else 0
        return n


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    jobs: int = 0
    tasks: int = 0
    gc_ms: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op, so the untraced path runs the same code."""

    def __init__(self, counters: SparkCounters | None, enabled: bool):
        self.enabled = enabled
        self._counters = counters
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main_stack = self._stack()
        self.op_id = 0
        self.bookkeeping_s = 0.0  # time spent reading counters

    def _stack(self) -> list[int]:
        """Open spans of the calling thread. A span opened in a pool thread
        the engine started takes the main thread's innermost span as its
        parent."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        c = self._counters
        b0 = time.perf_counter()
        j0, g0 = c.next_job_id(), c.gc_ms()
        self.bookkeeping_s += time.perf_counter() - b0
        stack = self._stack()
        parent = (stack or self._main_stack or [None])[-1]
        s = Span(name, time.perf_counter(), 0.0, parent, self.op_id, attrs=attrs)
        self.spans.append(s)
        stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            j1 = c.next_job_id()
            s.jobs, s.gc_ms = j1 - j0, c.gc_ms() - g0
            s.tasks = c.tasks(j0, j1)
            self.bookkeeping_s += time.perf_counter() - s.end

    def overhead_s(self) -> float:
        """Seconds tracing added: counter reads, plus the spans that only
        exist to attribute time (materializations the untraced path does
        not run)."""
        extra = sum(s.seconds for s in self.spans if s.attrs.get("attribution"))
        return self.bookkeeping_s + extra

    def busy_s(self, name: str) -> float:
        """Wall seconds during which at least one ``name`` span was open
        (spans from concurrent threads overlap; their union is counted)."""
        total, end = 0.0, float("-inf")
        for s in sorted(self.named(name), key=lambda s: s.start):
            if s.end > end:
                total += s.end - max(s.start, end)
                end = s.end
        return total

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
