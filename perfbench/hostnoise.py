"""Host-noise stamp for each run: load average, a fixed single-thread CPU
probe and the hypervisor steal share from ``/proc/stat``.

A co-tenant that slows the box shows up here, so a run that reads slow can
be told apart from code that got slower.  The stamp gates nothing.
"""

from __future__ import annotations

import os
import time


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def probe_ms() -> float:
    """Wall time of a fixed pure-Python loop of a million additions."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return (time.perf_counter() - t0) * 1000.0


class StealMeter:
    """Steal and busy share of all CPUs between construction and ``read``."""

    def __init__(self) -> None:
        self._start = _cpu_times()

    def read(self) -> dict:
        d = [b - a for a, b in zip(self._start, _cpu_times())]
        total = max(sum(d), 1)
        idle = d[3] + (d[4] if len(d) > 4 else 0)
        steal = d[7] if len(d) > 7 else 0
        return {
            "steal_pct": 100.0 * steal / total,
            "busy_pct": 100.0 * (total - idle) / total,
        }


def stamp() -> dict:
    return {
        "loadavg": list(os.getloadavg()),
        "cpu_probe_ms": probe_ms(),
        "nproc": os.cpu_count(),
    }
