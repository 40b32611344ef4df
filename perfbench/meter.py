"""Process-tree meters and the percentile helper.

CPU of the benchmark's process tree (this Python driver, its Spark JVM
and the Python workers the JVM forks) is read from ``/proc``. Each
process contributes ``utime + stime + cutime + cstime``: the last two
hold the CPU of children its parent has already reaped, so a worker
that exits between two readings moves its CPU into its parent's
counters instead of vanishing from the sum. A meter that summed only
live processes' ``utime + stime`` could read less at the end of a pass
than at its start. A reading that is still negative, or larger than
wall time x cores, is reported as a failed measurement (``None``).
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def read_tree(root_pid: int, proc: str = "/proc") -> dict[int, tuple[int, int, int]]:
    """``{pid: (ppid, cpu_ticks, rss_pages)}`` for ``root_pid`` and all
    its descendants. Retried while processes come and go mid-read."""
    for _ in range(3):
        before = _pids(proc)
        stats: dict[int, tuple[int, int, int]] = {}
        for pid in before:
            try:
                with open(f"{proc}/{pid}/stat") as f:
                    raw = f.read()
            except OSError:  # exited between listing and reading
                continue
            rest = raw[raw.rindex(")") + 2 :].split()
            ppid = int(rest[1])
            cpu = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
            stats[pid] = (ppid, cpu, int(rest[21]))
        if _pids(proc) == before:
            break
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return tree


def _pids(proc: str) -> set[int]:
    return {int(n) for n in os.listdir(proc) if n.isdigit()}


class CpuMeter:
    """CPU seconds of a process tree between ``start()`` and ``stop()``."""

    def __init__(self, root_pid: int | None = None, proc: str = "/proc",
                 cores: int | None = None, clock=time.perf_counter):
        self.root = root_pid or os.getpid()
        self.proc = proc
        self.cores = cores or os.cpu_count() or 1
        self.clock = clock

    def ticks(self) -> int:
        return sum(cpu for _, cpu, _ in read_tree(self.root, self.proc).values())

    def start(self) -> None:
        self._t0 = self.clock()
        self._c0 = self.ticks()

    def stop(self) -> float | None:
        """CPU seconds since ``start()``, or ``None`` when the reading is
        impossible (negative, or more than wall x cores)."""
        wall = self.clock() - self._t0
        cpu = (self.ticks() - self._c0) / HZ
        # one tick of slack per core: /proc counters are tick-granular
        if cpu < 0 or cpu > wall * self.cores + self.cores / HZ:
            return None
        return cpu


def machine_busy() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals[:8])
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    return (total - idle - steal) / HZ, steal / HZ


class RssSampler:
    """Peak resident memory (MB) of a process tree, sampled on a
    background thread while active."""

    def __init__(self, root_pid: int | None = None, period_s: float = 0.25):
        self.root = root_pid or os.getpid()
        self.period = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        pages = sum(r for _, _, r in read_tree(self.root).values())
        self.peak_mb = max(self.peak_mb, pages * PAGE / 2**20)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


#: a tail percentile is reported only with this many samples beyond it
MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q`` quantile of ``values`` (nearest rank), or ``None`` when
    fewer than ``MIN_TAIL`` samples lie beyond it. The median is the
    exception: it is reported from a single sample up."""
    n = len(values)
    if n == 0:
        return None
    if q == 0.5:
        return statistics.median(values)
    rank = max(1, math.ceil(round(q * n, 9)))  # 1-based; round() drops float noise
    if n - rank < MIN_TAIL:
        return None
    return sorted(values)[rank - 1]


def summarize(values: list[float]) -> dict:
    """Median, the highest of p90/p99/p99.9 with ``MIN_TAIL`` samples
    beyond it, and the sample count — always."""
    out: dict = {"n": len(values), "p50": percentile(values, 0.5)}
    for q, name in ((0.999, "p99.9"), (0.99, "p99"), (0.9, "p90")):
        v = percentile(values, q)
        if v is not None:
            out[name] = v
            break
    return out
