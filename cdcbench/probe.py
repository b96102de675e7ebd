"""Outside-in measurement helpers: process-tree CPU and RSS from
/proc, host stamps, percentiles, and a span recorder.

Nothing here reaches into the engine: CPU and memory are read from
/proc for the benchmark process and every descendant (the Spark JVM
and its Python workers), spans time calls the benchmark makes into the
engine's public functions.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


class ProcessTree:
    """The benchmark process and its descendants, minus ``exclude``d
    subtrees (the load generator is not the system under test)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.exclude: set[int] = set()
        self._peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def pids(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            out.append(pid)
            todo += kids.get(pid, [])
        return out

    def cpu_seconds(self) -> float:
        """utime+stime of every live process, plus the reaped children
        each of them has accounted (so short-lived workers count once).
        The root counts only itself: its other children are the JVM,
        counted directly, and the excluded generator."""
        total = 0
        for pid in self.pids():
            f = _stat_fields(pid)
            if f is None:
                continue
            total += int(f[11]) + int(f[12])
            if pid != self.root:
                total += int(f[13]) + int(f[14])
        return total / _TICK

    def rss_bytes(self) -> int:
        """Resident memory of the tree as PSS: a page shared by forked
        Python workers counts once across them, not once per worker."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _sample(self, period: float) -> None:
        while not self._stop.wait(period):
            self._peak_rss = max(self._peak_rss, self.rss_bytes())

    def start_rss(self, period: float = 1.0) -> None:
        """(Re)start peak-RSS tracking from now. Reading ``smaps_rollup``
        walks the process's page tables under its memory-map lock, about
        25 ms for a 1.4 GB JVM on a 4-core VM, so sampling much more
        often than once a second takes CPU from the run it measures."""
        self.stop_rss()
        self._peak_rss = self.rss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, args=(period,), daemon=True)
        self._thread.start()

    def stop_rss(self) -> float:
        """Stop tracking; returns the peak in MB."""
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None
            self._peak_rss = max(self._peak_rss, self.rss_bytes())
        return self._peak_rss / 2**20


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostStamp:
    """load1 and hypervisor steal over an interval, as bench.py stamps
    its runs: a slow run on a busy host shows as such."""

    def __init__(self):
        self.load1_start = os.getloadavg()[0]
        self._jiffies = _cpu_jiffies()

    def finish(self) -> dict:
        steal, total = _cpu_jiffies()
        d_steal = steal - self._jiffies[0]
        d_total = max(1, total - self._jiffies[1])
        return {"load1_start": self.load1_start, "load1_end": os.getloadavg()[0],
                "steal_pct": 100.0 * d_steal / d_total, "nproc": os.cpu_count()}


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(values, qs=(99.9, 99.0, 95.0, 90.0, 75.0)) -> tuple[float, float]:
    """(q, value) for the highest percentile in ``qs`` that has at
    least ten samples beyond it; the maximum (q = 100) when the run has
    too few samples for any of them."""
    n = len(values)
    for q in qs:
        if n * (1 - q / 100.0) >= 10:
            return q, percentile(values, q)
    return 100.0, max(values)


class Spans:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.items: list[dict] = []
        self._ids = 0
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._ids += 1
        sid = self._ids
        parent = getattr(self._local, "current", None)
        self._local.current = sid
        start = time.time()
        try:
            yield
        finally:
            self.items.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": time.time()})
            self._local.current = parent

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.items if s["name"] == name]

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")
