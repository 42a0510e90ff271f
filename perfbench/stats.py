"""Estimators and host probes used by the benchmark: medians, the tail
rule, /proc host-noise deltas, process-tree RSS sampling, disk usage."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def typical_latency(samples) -> float:
    """Geometric mean over query types of each type's median latency;
    ``samples`` are ``(query type, seconds)``. A plain median over a mix
    of types lands on whichever type sits at the middle rank, and jumps
    between types from run to run; this weighs every type alike."""
    by_type: dict[str, list[float]] = {}
    for name, dt in samples:
        by_type.setdefault(name, []).append(dt)
    if not by_type:
        raise ValueError("latency of no samples")
    return float(statistics.geometric_mean(median(v) for v in by_type.values()))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least
    ``TAIL_MIN_BEYOND`` samples beyond it, by nearest rank: rank
    ``n - 10``, percentile ``100 (n - 10) / n``.

    Returns ``(value, percentile, n)``. When even the median would have
    fewer than ten samples beyond it, the median is returned: the
    percentile field then says how thin the tail estimate is."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 2 * TAIL_MIN_BEYOND:
        return float(vals[_nearest_rank(50.0, n) - 1]), 50.0, n
    rank = n - TAIL_MIN_BEYOND
    return float(vals[rank - 1]), 100.0 * rank / n, n


def _nearest_rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` in ``n`` samples
    (rounded first so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def read_cpu_times() -> dict[str, int]:
    """Aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {k: int(v) for k, v in zip(names, fields[1:9])}


def host_noise(before: dict[str, int], after: dict[str, int]) -> dict:
    """Steal and iowait shares of all CPU time between two
    :func:`read_cpu_times` samples, plus the current load average."""
    delta = {k: after[k] - before[k] for k in before}
    total = sum(delta.values()) or 1
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    return {
        "steal_ratio": delta["steal"] / total,
        "iowait_ratio": delta["iowait"] / total,
        "loadavg_1m": load1,
        "loadavg_5m": load5,
        "loadavg_15m": load15,
    }


def calibration_s() -> float:
    """Seconds for a fixed pure-Python loop: the host's single-thread
    speed at the start and end of a run, for telling a slow host from a
    slow program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process ended between listdir and open
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (children, grandchildren...)."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_by_comm(pid: int) -> dict[str, int]:
    """Resident set size of ``pid`` and of its ``java`` and ``python*``
    descendants, summed per command name. Other descendants are short
    helpers (``bash``, ``chmod``); a child caught between ``vfork`` and
    ``exec`` still reports its parent's whole address space, and would
    count the JVM twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            if p != pid and comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:  # the process ended meanwhile
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler:
    """Background thread keeping the peak summed RSS of this process,
    the JVM it launched and the JVM's Python workers, and the peak per
    command name."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            by_comm = tree_rss_by_comm(pid)
            self.peak_bytes = max(self.peak_bytes, sum(by_comm.values()))
            for comm, rss in by_comm.items():
                self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0), rss)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
