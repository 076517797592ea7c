"""Validity stamps for a run: hypervisor steal, load, a calibration kernel,
and the peak resident memory of this process and everything it started."""

from __future__ import annotations

import os
import threading
import time


def cpu_times() -> list[int] | None:
    """The aggregate `cpu` line of /proc/stat as integers, or None when it is
    missing or too short to hold the steal column (the 8th value)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    if len(fields) < 9 or fields[0] != "cpu":
        return None
    try:
        return [int(x) for x in fields[1:]]
    except ValueError:
        return None


def steal_pct(before: list[int] | None, after: list[int] | None) -> float:
    """Share of CPU time stolen by the hypervisor between two samples, in %;
    0.0 when either sample is unavailable."""
    if before is None or after is None:
        return 0.0
    # guest time (fields 9-10) is already counted inside user/nice
    d = [b - a for a, b in zip(before[:8], after[:8])]
    total = sum(d)
    return 100.0 * d[7] / total if total > 0 else 0.0


def cal_kernel() -> float:
    """Seconds for a fixed pure-Python loop: the box's single-core speed at
    that moment."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the RSS of this process tree (the Spark
    JVM and its Python workers included); `peak` is the maximum."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Interval:
    """Steal and load over one workload interval."""

    def __enter__(self) -> "Interval":
        self._cpu = cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        self.steal_pct = steal_pct(self._cpu, cpu_times())
        self.load_1m = os.getloadavg()[0]
