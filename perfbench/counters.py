"""Counters read from outside the program: the process tree under
``/proc`` and Spark's own status store.

Nothing here starts work in Spark; every read happens between timed
operations.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(command, parent pid, CPU seconds of the process and its reaped
    children) from ``/proc/<pid>/stat``, or None when it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # after the command, rest[0] is the state and rest[1] the parent pid;
    # utime, stime, cutime and cstime (fields 14-17 of proc(5)) are
    # rest[11:15]
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return comm, int(rest[1]), cpu


def process_tree(root: int) -> dict[int, tuple[str, int, float]]:
    """Every live process whose ancestry leads to ``root``, root included."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for c in children.get(frontier.pop(), []):
            keep.add(c)
            frontier.append(c)
    return {p: procs[p] for p in keep if p in procs}


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` runs any more (gone or a zombie);
    return those still running when ``timeout`` seconds have passed."""
    import time

    deadline = time.monotonic() + timeout
    while True:
        alive = set()
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.add(pid)
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


@dataclass
class CpuSample:
    """CPU seconds consumed so far, split by process role."""

    driver_py: float
    jvm: float
    py_workers: float

    @property
    def total(self) -> float:
        return self.driver_py + self.jvm + self.py_workers

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            *(getattr(self, f.name) - getattr(other, f.name) for f in fields(self))
        )


def cpu_sample() -> CpuSample:
    """CPU of this Python process, the JVM it launched and the Python
    workers the JVM forks. Workers that exited were reaped by the PySpark
    daemon, so their time is in the daemon's children counters."""
    me = os.getpid()
    driver = jvm = workers = 0.0
    for pid, (comm, _, cpu) in process_tree(me).items():
        if pid == me:
            driver = cpu
        elif comm == "java":
            jvm += cpu
        elif comm.startswith("python"):
            workers += cpu
    return CpuSample(driver, jvm, workers)


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the JVM."""
    me = os.getpid()
    total = _hwm_mb(me)
    for pid, (comm, _, _) in process_tree(me).items():
        if comm == "java":
            total += _hwm_mb(pid)
    return total


def steal_s() -> float:
    """Host-wide CPU steal seconds so far (``/proc/stat``, all CPUs)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


@dataclass
class StageTotals:
    """Sums over the stages of a set of Spark jobs (status store)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def __iadd__(self, other: "StageTotals") -> "StageTotals":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


_MB = 1024.0 * 1024.0


class StatusReader:
    """Reads per-job-group stage metrics from the driver's status store.

    Listener events arrive asynchronously, so every read first waits for
    the listener bus to drain."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def settle(self) -> None:
        self._bus.waitUntilEmpty()

    def group(self, group: str) -> StageTotals:
        """Totals for the jobs of ``group``."""
        out = StageTotals()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            out.jobs += 1
            it = self._store.job(job_id).stageIds().iterator()
            while it.hasNext():
                sd = self._store.lastStageAttempt(it.next())
                if sd.status().toString() != "COMPLETE":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.task_run_s += sd.executorRunTime() / 1e3
                out.task_cpu_s += sd.executorCpuTime() / 1e9
                out.gc_s += sd.jvmGcTime() / 1e3
                out.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
                out.shuffle_read_mb += sd.shuffleReadBytes() / _MB
                out.spill_mb += sd.diskBytesSpilled() / _MB
        return out
