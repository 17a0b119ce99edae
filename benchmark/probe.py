"""Host and process probes: /proc CPU, RSS and steal for the process
tree (driver Python + JVM + Python workers), and per-op Spark counters
read from the driver's status store. Nothing here touches the engine."""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """The pids of ``root`` (default: this process) and all descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime of each pid plus the CPU of its reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class Tree:
    """CPU and peak RSS of this process's tree, and the CPU of its parts:
    the driver Python itself and the Python worker daemon's subtree
    (looked up on first use, once the engine has started it)."""

    def __init__(self) -> None:
        self.me = os.getpid()
        self.pyworkers: list[int] = []

    def refresh(self) -> None:
        self.pyworkers = [p for p in tree(self.me) if "pyspark.daemon" in _cmdline(p)]

    def cpu(self) -> float:
        return cpu_seconds(tree(self.me))

    def driver_cpu(self) -> float:
        t = os.times()
        return t.user + t.system

    def pyworker_cpu(self) -> float:
        if not self.pyworkers:
            self.refresh()
        pids = []
        for root in self.pyworkers:
            pids.extend(tree(root))
        return cpu_seconds(pids)

    def peak_rss_mb(self) -> float:
        """Sum of each live process's peak RSS (VmHWM): an upper bound
        on the tree's peak resident memory."""
        kb = 0
        for pid in tree(self.me):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                continue
        return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def core_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class SparkStatus:
    """Per-job-group counters from the driver's AppStatusStore and the
    JVM's garbage-collector beans, read through the py4j gateway."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sparkContext().statusStore()
        self.gc_beans = list(
            self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def gc_ms(self) -> float:
        return float(sum(max(b.getCollectionTime(), 0) for b in self.gc_beans))

    def group(self, group: str, t0: float, t1: float) -> dict:
        """Counters for every job of ``group``; ``t0``/``t1`` are the
        op's wall bounds (epoch seconds), for the driver gap."""
        jobs = [self.store.job(i) for i in self.sc.statusTracker().getJobIdsForGroup(group)]
        spans, stages, tasks, shuffle, spill = [], 0, 0, 0, 0
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            sit = j.stageIds().iterator()
            while sit.hasNext():
                try:
                    st = self.store.lastStageAttempt(sit.next())
                except Py4JJavaError:  # stage already evicted from the store
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                stages += 1
                tasks += st.numCompleteTasks()
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "gap_s": max(0.0, (t1 - t0) - _union(spans, t0, t1)),
        }


def _union(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def now() -> float:
    return time.perf_counter()
