"""Spans recorded from outside the program, plus the process and JVM
readings that the traced run attaches to them.

Spans are kept in memory and written once, when the benchmark ends. Each
span has a name, start and end (``time.perf_counter`` seconds), the id of
the span that caused it, the id of the operation it belongs to, and
counts measured at the same boundary.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent in the benchmark's own bookkeeping (job-group
        #: tagging, status-tracker and /proc reads) per operation id
        self.overhead: dict[int, float] = {}

    @contextmanager
    def span(self, name: str, op: int | None = None, **counts):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        s = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
             "start": time.perf_counter(), "end": None, "counts": dict(counts)}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **counts) -> None:
        """Record a span measured by someone else (a manifest stage)."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "op": self.spans[parent]["op"], "start": start,
                           "end": end, "counts": dict(counts)})

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def charge(self, op: int, seconds: float) -> None:
        self.overhead[op] = self.overhead.get(op, 0.0) + seconds

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "overhead_s": self.overhead}, f)


# -- process readings ------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    out, frontier = [], {pid}
    while frontier:
        nxt = {c for c, p in parent.items() if p in frontier}
        out.extend(sorted(nxt))
        frontier = nxt
    return out


def cpu_seconds(pid: int, with_children: bool = False) -> float:
    """user + system CPU of ``pid`` (and of its reaped children)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
    ticks = int(st[11]) + int(st[12])
    if with_children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _CLK_TCK


def tree_cpu(jvm_pid: int) -> tuple[float, float]:
    """(JVM CPU s, Python-worker CPU s): the JVM's own threads, and every
    process below it (the pyspark daemon and its forked workers)."""
    workers = sum(cpu_seconds(p, with_children=True) for p in descendants(jvm_pid))
    return cpu_seconds(jvm_pid), workers


def process_cpu(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and its workers.
    Unlike a wall time, it does not grow with the time the host takes
    the CPU away (steal)."""
    t = os.times()
    return t.user + t.system + sum(tree_cpu(jvm_pid))


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole machine so far, from the
    first line of /proc/stat. Stolen ticks are time the host ran
    something else while this machine's CPUs had work."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two ``cpu_ticks`` readings that
    the host took away."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# -- Spark readings -------------------------------------------------------

def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def gc_ms(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def live_heap_mb(spark) -> float:
    """Heap of the driver JVM still in use after a full collection, in MB:
    what the program keeps, however large the heap may grow."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """Spark jobs and tasks run under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), tasks
