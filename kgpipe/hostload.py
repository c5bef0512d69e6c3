"""Host-load disclosure helpers shared by `bench.py` and
`perfbench/run.py`.

Both harnesses commit per-window load evidence next to every timing
they record; keeping the two implementations here (instead of one
copy in each file) guarantees the fields stay numerically comparable
— a fix applied to one harness cannot silently drift from the other.
Driver-side only: nothing here runs on executors.
"""
from __future__ import annotations

import time


def load_probe_gbps(n_mb: int = 256) -> float:
    """Streaming-bandwidth probe: GB/s of a numpy sum over a fixed
    buffer. This host saturates its memory bus before its ALUs
    (BENCH/BASELINE.md), so a probe dip is direct point-in-time
    evidence of neighbor bandwidth load."""
    import numpy as np

    buf = np.ones(n_mb * 131072, dtype=np.float64)  # n_mb MiB
    t0 = time.perf_counter()
    s = float(buf.sum())
    dt = time.perf_counter() - t0
    assert s > 0
    return round(n_mb / 1024.0 / dt, 2)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line.
    Steal accrues only when the hypervisor runs a NEIGHBOR instead of
    this VM — the in-window interference signal point samples cannot
    see (a neighbor spinning up mid-leg is invisible to a pre-leg
    probe, and unlike loadavg, steal is not confounded by the leg's
    own task load). Total sums ONLY the first 8 fields (user nice
    system idle iowait irq softirq steal): the kernel already folds
    guest/guest_nice into user/nice, so including them would
    double-count guest time and bias the steal share low."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])
