"""Measurements taken from outside the program: process CPU, JVM counters,
Spark's own job and stage records, and a fixed host-speed loop.

Nothing here runs inside the engine: spans are recorded around the calls
the benchmark makes, and Spark's counters are read back through
``setJobGroup``, ``statusTracker()`` and the JVM status store.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from stats import self_time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, with_reaped_children: bool = False) -> float:
    """utime+stime of one process (and of its reaped children)."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    if with_reaped_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, each with its
    reaped children, so short-lived workers still count."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        try:
            total += proc_cpu_s(pid, with_reaped_children=True)
        except (OSError, ValueError):
            continue  # exited between listing and reading
        todo.extend(children.get(pid, ()))
    return total


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_calib_s() -> float:
    """Wall time of a fixed pure-Python loop: separates drift of the
    machine from drift of the program. Never used to scale a metric."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    if acc < 0:  # keeps the loop from being optimised away
        raise AssertionError
    return time.perf_counter() - t


class Jvm:
    """JVM-wide counters from the management beans and /proc."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.pid = spark.sparkContext._gateway.proc.pid

    def snapshot(self) -> dict[str, float]:
        return {
            "jit_compile_s": self._comp.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "cpu_s": proc_cpu_s(self.pid),
        }


@dataclass
class Span:
    op: int
    name: str
    kind: str  # "build" or "action"
    start: float
    end: float = 0.0
    jobs: list[dict] = field(default_factory=list)


class Tracer:
    """Records one span per call boundary, each in its own Spark job
    group, and reads the group's job and stage counters after the call.
    A disabled tracer only times the calls."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore() if enabled else None

    def call(self, op: int, name: str, kind: str, fn, *args, **kwargs):
        span = Span(op, name, kind, 0.0)
        group = f"perfbench-{op}-{len(self.spans)}"
        if self.enabled:
            self._sc.setJobGroup(group, name)
        span.start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            if self.enabled:
                self._sc.setJobGroup("perfbench-idle", "between calls")
                span.jobs = [self._job(j) for j in self._sc.statusTracker().getJobIdsForGroup(group)]
                self.spans.append(span)

    def _job(self, jid: int) -> dict:
        jd = self._store.job(jid)
        done = jd.completionTime()  # empty for a job still running, e.g. a cancelled broadcast
        job = {
            "id": jid,
            "start": jd.submissionTime().get().getTime() / 1000.0,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
            "stages": 0, "tasks": 0, "run_s": 0.0, "shuffle_write": 0,
            "shuffle_read": 0, "input": 0, "spill": 0,
        }
        for sid in self._sc.statusTracker().getJobInfo(jid).stageIds:
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            job["stages"] += 1
            job["tasks"] += sd.numTasks()
            job["run_s"] += sd.executorRunTime() / 1000.0
            job["shuffle_write"] += sd.shuffleWriteBytes()
            job["shuffle_read"] += sd.shuffleReadBytes()
            job["input"] += sd.inputBytes()
            job["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return job


def op_outside_jobs_s(start: float, end: float, spans: list[Span]) -> float:
    """Op wall time not covered by any of its Spark jobs: the op span's
    self-time with its jobs as children."""
    return self_time((start, end), [(j["start"], j["end"]) for s in spans for j in s.jobs])
