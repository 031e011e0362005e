"""Measurements read from outside the engine: process CPU and memory from
``/proc``, JIT/GC/heap counters from the Spark driver JVM's MXBeans over py4j,
and job counts from Spark's status tracker."""

from __future__ import annotations

import os

from eventlog import drain_listeners

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Process:
    """CPU seconds of this Python process plus the Spark driver JVM and every
    process the JVM forked (Python workers), and resident memory."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _tree(self) -> list[int]:
        return [os.getpid()] + _descendants(self.jvm_pid)

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self._tree():
            f = _stat_fields(pid)
            if f is None:
                continue
            # utime, stime, and the reaped children's cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
        return ticks / _TICK

    def reset_peak_rss(self) -> None:
        for pid in (os.getpid(), self.jvm_pid):
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")  # resets the VmHWM high-water mark

    def peak_rss_mb(self) -> float:
        """This process's and the JVM's resident high-water marks since
        the last reset, summed: an upper bound of their joint peak. The
        Python workers are left out; how many are alive depends on task
        timing, not on the work."""
        return sum(_status_kb(pid, "VmHWM") for pid in (os.getpid(), self.jvm_pid)) / 1024

    def rss_mb(self) -> float:
        """This process's resident memory now."""
        return _status_kb(os.getpid(), "VmRSS") / 1024


class Jvm:
    """Cumulative JIT and GC time, heap peaks and retained memory of the
    Spark driver JVM."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jvm = spark._jvm
        self._memory = mf.getMemoryMXBean()
        self._compiler = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"
        ]
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def jit_s(self) -> float:
        return self._compiler.getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak usage since the last reset."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20

    def retained_mb(self) -> float:
        """Heap still live after a full collection, plus committed
        non-heap memory (classes, compiled code): what the JVM holds
        between passes, independent of how far G1 has grown the heap."""
        self._jvm.java.lang.System.gc()
        mem = self._memory
        return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getCommitted()) / 2**20

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()


def jobs_in_group(spark, group: str) -> int:
    drain_listeners(spark)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def live_pins(spark) -> int:
    """Persisted or locally checkpointed RDDs the context still holds."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
