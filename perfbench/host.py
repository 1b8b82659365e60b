"""Host diagnostics recorded next to every run (reported, never gated).

A run that drifted should be explainable from these: CPU steal taken by
other tenants, the load average, and a fixed pure-CPU canary timed at the
start and at the end of the run.
"""

from __future__ import annotations

import hashlib
import os
import time


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user time
    return steal, sum(fields[:8])


def canary_ms(rounds: int = 3) -> float:
    """Median wall time of a fixed CPU-bound loop (hashing 32 MiB)."""
    block = bytes(range(256)) * 4096
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(32):
            h.update(block)
        h.hexdigest()
        times.append(1000.0 * (time.perf_counter() - t0))
    return sorted(times)[len(times) // 2]


class HostProbe:
    """Snapshot at construction; :meth:`report` diffs against it."""

    def __init__(self) -> None:
        self.steal0, self.total0 = cpu_times()
        self.load0 = os.getloadavg()
        self.canary0 = canary_ms()

    def report(self) -> dict:
        steal1, total1 = cpu_times()
        dt = max(1, total1 - self.total0)
        return {
            "steal_pct": round(100.0 * (steal1 - self.steal0) / dt, 3),
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "canary_start_ms": round(self.canary0, 3),
            "canary_end_ms": round(canary_ms(), 3),
            "cpus": len(os.sched_getaffinity(0)),
        }
