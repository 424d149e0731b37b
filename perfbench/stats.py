"""Arithmetic and host probes for the benchmark: percentiles, quartile
spread, CPU steal/busy from /proc/stat, and the process tree's peak
resident memory."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time


def percentile(values: list[float], p: float) -> float:
    """The p-th percentile (0-100) by linear interpolation between the
    closest ranks (numpy's default 'linear' method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)`` (the 'exclusive' method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# /proc/stat "cpu" line: user nice system idle iowait irq softirq steal ...
# guest and guest_nice are already counted inside user and nice.
_BUSY = (0, 1, 2, 5, 6)
_IDLE = (3, 4)
_STEAL = 7


def read_cpu_times(path: str = "/proc/stat") -> tuple[int, ...]:
    with open(path) as f:
        for line in f:
            if line.startswith("cpu "):
                return tuple(int(x) for x in line.split()[1:9])
    raise ValueError(f"no aggregate cpu line in {path}")


def cpu_shares(before: tuple[int, ...], after: tuple[int, ...]) -> dict[str, float]:
    """Steal and busy as % of all CPU time between two /proc/stat reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[i] for i in _BUSY + _IDLE) + d[_STEAL]
    if total <= 0:
        return {"steal_pct": 0.0, "busy_pct": 0.0}
    return {
        "steal_pct": 100.0 * d[_STEAL] / total,
        "busy_pct": 100.0 * sum(d[i] for i in _BUSY) / total,
    }


class HostCpu:
    """Host CPU accounting for named phases of a run: ``phase(name)``
    returns a context manager that records the phase's wall seconds and
    the host's steal/busy shares between its entry and exit."""

    def __init__(self) -> None:
        self.start = read_cpu_times()
        self.phases: dict[str, dict[str, float]] = {}

    def phase(self, name: str) -> "_Phase":
        return _Phase(self, name)

    def total(self) -> dict[str, float]:
        return cpu_shares(self.start, read_cpu_times())


class _Phase:
    def __init__(self, host: HostCpu, name: str) -> None:
        self.host, self.name = host, name

    def __enter__(self) -> None:
        self.t0, self.wall0 = read_cpu_times(), time.perf_counter()

    def __exit__(self, *exc) -> None:
        self.host.phases[self.name] = {
            "s": time.perf_counter() - self.wall0, **cpu_shares(self.t0, read_cpu_times())}


def _proc_table() -> dict[int, int]:
    """pid -> parent pid of every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: fields resume after ')'
                table[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError):
            continue  # exited while we looked
    return table


def process_tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _proc_table().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and its descendants: the sum of their
    proportional set sizes, so that pages a forked child (a Python worker)
    still shares with its parent count once, not once per process."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue  # exited while we looked
    return total


class RssSampler:
    """Samples this process tree's resident memory (``tree_rss_bytes``:
    Python, JVM, Python workers) on a daemon thread; ``peak_mb`` is the
    largest sample seen."""

    INTERVAL_S = 0.5  # each sample walks the page tables of every process

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.ident is not None:  # started
            self._thread.join(timeout=5)

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)
