"""Host context and the process-tree memory sampler.

The canaries are the same fixed probes as ``bench.py``'s: a single-thread
sequential float64 reduction (memory bandwidth) and a fixed strided
matmul (cache and latency contention). They are recorded at the start and
end of every run to diagnose an unsteady run; they are not metrics."""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np


def membw_mbps() -> float:
    a = np.empty(32 * 1024 * 1024, dtype=np.float64)  # 256 MB
    a.fill(1.0)
    a.sum()
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        a.sum()
        rates.append(a.nbytes / (time.perf_counter() - t0) / 1e6)
    return round(statistics.median(rates))


def matmul_ms() -> float:
    rng = np.random.default_rng(0)
    f = rng.integers(-2000, 2000, (312, 64)).astype(np.float64)
    g = rng.integers(-2000, 2000, (16384, 64)).astype(np.float64)
    f @ g.T
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        f @ g.T
        times.append((time.perf_counter() - t0) * 1000)
    return round(statistics.median(times), 1)


def context() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "membw_mbps": membw_mbps(),
        "matmul_ms": matmul_ms(),
    }


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process tree (the Python
    driver, the JVM and Spark's Python workers) until stopped."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
