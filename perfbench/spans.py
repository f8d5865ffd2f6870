"""Spans around calls into the engine's layers, the Spark event log they
are matched against, and host context (CPU steal, JVM RSS and GC).

Spans are kept in memory. Jobs are attributed to a span when their
submission time falls inside it: the engine's background threads
(``KGPipeline`` overlaps writes with compute) do not inherit job
groups, but the benchmark has one operation in flight at a time, so a
time window holds exactly that operation's jobs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Collects spans; ``enabled=False`` records nothing (untraced runs)."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# ------------------------------------------------------------ host context
def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of a process (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, int(b.getCollectionTime())) for b in beans) / 1000.0


# ------------------------------------------------------------- event log
@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_write: int
    spill: int


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        jobs: list[Job] = []
        tasks: list[Task] = []
        # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> (rolling
        # format); older versions a single file per application
        paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                 if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs.append(Job(
                            ev["Job ID"],
                            ev["Submission Time"] / 1000.0,
                            list(ev.get("Stage IDs", [])),
                        ))
                    elif kind == "SparkListenerTaskEnd":
                        info = ev["Task Info"]
                        m = ev.get("Task Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        tasks.append(Task(
                            ev["Stage ID"],
                            info["Launch Time"] / 1000.0,
                            info["Finish Time"] / 1000.0,
                            m.get("Executor Run Time", 0) / 1000.0,
                            m.get("JVM GC Time", 0) / 1000.0,
                            sw.get("Shuffle Bytes Written", 0),
                            m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        ))
        return cls(jobs, tasks)

    def window(self, spans: list[Span]) -> tuple[list[Job], list[Task]]:
        """Jobs submitted inside any of ``spans`` and their tasks."""
        jobs = [
            j for j in self.jobs
            if any(s.start <= j.submit <= s.end for s in spans)
        ]
        stages = {st for j in jobs for st in j.stages}
        return jobs, [t for t in self.tasks if t.stage in stages]


def task_skew(tasks: list[Task]) -> float:
    """max / median task run time in the stage that ran longest in
    total (the band shuffle, where the hot repo lands)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(max(t.finish - t.launch, 1e-3))
    multi = [v for v in by_stage.values() if len(v) > 1]
    if not multi:
        return 1.0
    worst = max(multi, key=sum)
    return max(worst) / statistics.median(worst)
