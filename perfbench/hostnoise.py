"""Host noise: the CPU time the hypervisor gives other guests ("steal").

The benchmark runs on a shared virtual machine. While the host takes CPU
time away, every operation slows down by an amount unrelated to the code.
``StealClock`` samples the steal counter of ``/proc/stat`` in the
background, so the run can ask how disturbed any interval was, and
``undisturbed`` picks the samples a median is taken over.
"""

from __future__ import annotations

import bisect
import os
import threading
import time
from typing import NamedTuple

PERIOD_S = 0.05
MAX_SHARE = 0.05  # a sample with more of the CPUs' time stolen is disturbed


class Sample(NamedTuple):
    ms: float  # wall time of the operation
    share: float  # share of the machine's CPU time stolen while it ran


def read_steal_s() -> float:
    """CPU seconds the hypervisor has given other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def machine_cpus() -> int:
    """CPUs the steal counter sums over: every CPU of the machine, not only
    the ones this process may use."""
    with open("/proc/stat") as f:
        return sum(1 for line in f if line.startswith("cpu") and line[3].isdigit())


def undisturbed(samples: list[Sample], max_share: float = MAX_SHARE) -> list[Sample]:
    """The samples with at most ``max_share`` stolen; when those are fewer
    than half, the least disturbed half instead, so a run always reports
    a median over at least half its samples."""
    kept = [s for s in samples if s.share <= max_share]
    if 2 * len(kept) >= len(samples):
        return kept
    return sorted(samples, key=lambda s: s.share)[: (len(samples) + 1) // 2]


class StealClock:
    """``(wall time, steal seconds)`` every ``PERIOD_S`` on a daemon thread."""

    def __init__(self, period_s: float = PERIOD_S):
        self.period_s = period_s
        self.cpus = machine_cpus()
        self.ticks: list[tuple[float, float]] = []
        self._lock = threading.Lock()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, name="steal-clock", daemon=True)

    def start(self) -> StealClock:
        self.tick()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._done.set()
        if self._thread.is_alive():
            self._thread.join()

    def tick(self) -> None:
        t, s = time.time(), read_steal_s()
        with self._lock:
            self.ticks.append((t, s))

    def _run(self) -> None:
        while not self._done.wait(self.period_s):
            self.tick()

    def stolen_s(self) -> float:
        with self._lock:
            return self.ticks[-1][1] - self.ticks[0][1]

    def share(self, t0: float, t1: float) -> float:
        """Share of all CPUs' time stolen over wall-clock ``[t0, t1]``,
        measured between the ticks just outside it."""
        with self._lock:
            ticks = list(self.ticks)
        i = max(bisect.bisect_right(ticks, t0, key=lambda x: x[0]) - 1, 0)
        j = min(bisect.bisect_left(ticks, t1, key=lambda x: x[0]), len(ticks) - 1)
        if j <= i:
            return 0.0
        return (ticks[j][1] - ticks[i][1]) / (self.cpus * (ticks[j][0] - ticks[i][0]))
