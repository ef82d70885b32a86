"""Summary statistics with the benchmark's sample-count rule.

A timing is reported as its median plus the highest percentile of
:data:`TAIL_LADDER` that still has at least :data:`MIN_BEYOND` samples
beyond it; with fewer samples only the median is reported. Every
summary carries its sample count.
"""

from __future__ import annotations

import math
import os

TAIL_LADDER = (0.9, 0.99, 0.999)
MIN_BEYOND = 10


def percentile(xs, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty sample."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_quantile(n: int) -> float | None:
    """Highest ladder quantile with at least ``MIN_BEYOND`` of ``n``
    samples strictly beyond it, or None when even p90 has too few."""
    best = None
    for q in TAIL_LADDER:
        if n * (1 - q) >= MIN_BEYOND - 1e-9:
            best = q
    return best


def summarize(xs) -> dict:
    """``{"n", "p50"}`` plus ``"tail_q"``/``"tail"`` when the rule allows."""
    xs = list(xs)
    out: dict = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = percentile(xs, 0.5)
    q = tail_quantile(len(xs))
    if q is not None:
        out["tail_q"] = q
        out["tail"] = percentile(xs, q)
    return out


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 << 30


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1
