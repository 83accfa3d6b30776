"""Statistics and host readings: medians, the tail percentile, /proc/stat
steal windows and peak resident memory of a process tree."""

from __future__ import annotations

import os
import re
import statistics
from pathlib import Path

# Percentiles tried from the top; a percentile qualifies when at least
# ten samples lie beyond it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between order statistics (numpy's default)."""
    s = sorted(values)
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest ladder percentile with at least
    ten samples beyond it. Below 20 samples none has, and the median is
    returned as percentile 50."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100 - p) >= 1000 - 1e-6:  # n * (1 - p/100) >= 10, without rounding loss
            return p, percentile(values, p)
    return 50.0, statistics.median(values)


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of all CPU ticks between two readings that the hypervisor stole."""
    deltas = [b - a for a, b in zip(t0, t1)]
    return 100.0 * deltas[7] / max(1, sum(deltas)) if len(deltas) > 7 else 0.0


def vcpus() -> int:
    return len(os.sched_getaffinity(0))


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and all its descendants: here the
    benchmark process, the JVM it launched and the JVM's Python workers."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            status = Path(f"/proc/{p}/status").read_text()
        except OSError:
            continue
        m = re.search(r"^VmHWM:\s+(\d+) kB", status, re.M)
        if m:
            total_kb += int(m.group(1))
    return total_kb / 1024
