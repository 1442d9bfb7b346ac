"""Measurement helpers: medians, the tail-percentile rule, peak RSS of
the process tree, on-disk bytes and a description of the host."""

from __future__ import annotations

import math
import os
import statistics
import threading


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile that has at least ten samples beyond it,
    as ``(percentile, value)``; ``None`` when the sample is too small
    (n <= 10) to support any tail. The percentile is taken from the
    whole-percent grid, nearest-rank: for n samples, p% leaves
    ``n - ceil(n * p / 100)`` samples strictly beyond its rank."""
    n = len(samples)
    ordered = sorted(samples)
    for p in range(99, 0, -1):
        rank = math.ceil(n * p / 100)
        if rank >= 1 and n - rank >= 10:
            return float(p), float(ordered[rank - 1])
    return None


def _pss_kib(pid: int) -> int:
    # PSS, not RSS: Spark's Python workers fork from one daemon, and RSS
    # would count the pages they share once per worker
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    """All descendants of ``root``, from ``/proc/<pid>/stat``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


class PeakRss:
    """Samples the summed proportional set size (PSS) of this process
    and its descendants (the driver JVM and Spark's Python workers)
    every ``interval`` seconds on a daemon thread. ``stop()`` returns
    the peak in MB; ``peaks`` also holds the peak of this process
    alone and of its descendants alone."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peaks = {"total": 0, "driver": 0, "children": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            driver = _pss_kib(me)
            children = sum(_pss_kib(p) for p in _descendants(me))
            for k, v in (("total", driver + children), ("driver", driver),
                         ("children", children)):
                self.peaks[k] = max(self.peaks[k], v)
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peaks["total"] / 1024.0


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(d, f)).st_size
                except FileNotFoundError:
                    continue
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and Spark's Python workers), including reaped children.
    Unlike wall time it does not grow with time stolen by the
    hypervisor."""
    ticks = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def spark_jobs(spark) -> int:
    """Spark jobs submitted so far in this application: the DAG
    scheduler's job-id counter. Job launches are the engine's per-call
    fixed cost, and the count does not depend on the host's speed."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (``/proc/stat``); a run-to-run noise indicator."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_info(path: str) -> dict:
    """nproc, RAM and the filesystem that holds ``path``."""
    mem_kib = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    real = os.path.realpath(path)
    fs, best = "unknown", ""
    with open("/proc/mounts", encoding="ascii", errors="replace") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            inside = real == mnt or real.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, fs = mnt, parts[2]
    return {
        "nproc": os.cpu_count(),
        "ram_gib": round(mem_kib / 1024**2, 1),
        "state_fs": fs,
        "state_mount": best,
    }
