"""Order statistics, interval union and memory readings for the benchmark.

Pure functions with no Spark import, so the benchmark's own tests run
them without a session.
"""

from __future__ import annotations

import os
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile of ``values`` with at least ``min_beyond``
    samples strictly above its rank.

    Returns ``(value, percentile, n)``. Percentiles are read by the
    nearest-rank rule on the sorted sample: the value at 1-based rank r
    is the ``100 * r / n`` percentile and has ``n - r`` samples beyond
    it, so the answer is rank ``n - min_beyond``. With no more than
    ``min_beyond`` samples no percentile qualifies and the median is
    returned with percentile 50, so the caller can still report a number
    together with the sample count that explains it.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no values")
    ordered = sorted(values)
    r = n - min_beyond
    if r < 1:
        return median(values), 50.0, n
    return float(ordered[r - 1]), 100.0 * r / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((a, b) for a, b in intervals if b > a):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip_intervals(intervals: list[tuple[float, float]], lo: float,
                   hi: float) -> list[tuple[float, float]]:
    """Intersect each interval with ``[lo, hi]``, dropping empty ones."""
    out = []
    for s, e in intervals:
        s2, e2 = max(s, lo), min(e, hi)
        if e2 > s2:
            out.append((s2, e2))
    return out


def dir_bytes(root: str) -> int:
    """Bytes of the regular files under ``root`` (links are not followed)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not os.path.islink(path):
                total += os.path.getsize(path)
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
