"""Small measurement helpers: percentiles that count failures, process
age, and peak resident memory of this process and its children."""

from __future__ import annotations

import math
import os
import threading
import time


def percentile(samples: list[float | None], q: float) -> float:
    """Nearest-rank percentile, *q* in (0, 100]. A failed operation is
    passed as ``None`` and counts as +inf, so a run whose fast path
    fails can never read as faster."""
    if not samples:
        return math.inf
    values = sorted(math.inf if s is None else s for s in samples)
    rank = max(1, math.ceil(q / 100.0 * len(values)))
    return values[rank - 1]


def median(samples: list[float | None]) -> float:
    return percentile(samples, 50)


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        after_name = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_name[19])  # field 22, starttime
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _cmdline(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as fh:
        return fh.read()


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of *root* and its descendants. A child that still
    runs its parent's command line is a fork or spawn that has not yet
    exec'd: it shares the parent's pages (with vfork-style spawning, its
    whole address space), so it is skipped rather than counted twice."""
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_cmd = todo.pop()
        try:
            cmd = _cmdline(pid)
            if cmd == parent_cmd:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
        todo.extend((child, cmd) for child in _children(pid))
    return total


class PeakRss:
    """Samples the RSS of this process tree every *interval* seconds
    on a daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def finite_or_none(x: float) -> float | None:
    return x if math.isfinite(x) else None


def timed(fn, *args, **kwargs):
    """(seconds, result, error): error is the exception, result None."""
    t0 = time.perf_counter()
    try:
        out = fn(*args, **kwargs)
    except Exception as exc:  # a failed operation is data, not a crash
        return time.perf_counter() - t0, None, exc
    return time.perf_counter() - t0, out, None
