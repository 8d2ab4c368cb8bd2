"""Host-noise diagnostics: hypervisor steal from /proc/stat and a
fixed-work CPU probe. They are recorded next to each run's metrics and
never used to normalize them."""

from __future__ import annotations

import time


def steal_snapshot() -> tuple[int, int]:
    """(total jiffies, steal jiffies) over all CPUs since boot."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return sum(vals), vals[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def cpu_probe(reps: int = 3) -> float:
    """Seconds for a fixed single-thread numpy quantum, min of ``reps``."""
    import numpy as np

    x = (np.arange(1_000_000, dtype=np.float64) % 97) * 1e-3
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(20):
            float(np.sqrt(x * x + 1.0).sum())
        best = min(best, time.perf_counter() - t0)
    return best
