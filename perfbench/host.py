"""Host facts recorded beside every run: the stamp that tells a noisy
run from a slow one, CPU steal from /proc/stat, and the peak resident
memory of the Spark JVM and its Python workers."""

from __future__ import annotations

import glob
import os
import platform
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings
    (fields: user nice system idle iowait irq softirq steal ...)."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return d[7] / sum(d) if sum(d) else 0.0


def stamp(spark) -> dict:
    import pyspark
    return {
        "nproc": os.cpu_count(),
        "affinity_cores": len(os.sched_getaffinity(0)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "kernel": platform.release(),
    }


def process_tree(pid: int) -> list[int]:
    """``pid`` and every process below it, from the per-thread
    ``children`` lists in /proc."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        for path in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(path) as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue  # the thread or process ended while we looked
    return out


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, with reaped children) used by
    ``pids``. Time the hypervisor stole is not in it."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the summed RSS of the process tree under ``pid`` (the
    Spark JVM) every ``interval`` seconds, between start() and stop()."""

    def __init__(self, pid: int, interval: float = 0.05):
        self._pid = pid
        self._interval = interval
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self.peak = 0

    def _sample(self) -> None:
        while not self._done.wait(self._interval):
            self.peak = max(self.peak, rss_bytes(process_tree(self._pid)))

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._done.set()
        self._thread.join()
        return self.peak
