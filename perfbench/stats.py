"""Summary statistics and the configuration stamp of a benchmark run.

Nothing here imports Spark: the launcher and the self-tests use these
helpers without starting a JVM.
"""

from __future__ import annotations

import math
import os
import platform
import subprocess
from fractions import Fraction

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile {p} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(percentile, value, samples)`` for the highest percentile of the
    ladder that leaves at least ``TAIL_MIN_BEYOND`` samples above it.

    With too few samples for any rung, the tail is the maximum, reported
    as percentile 100.
    """
    n = len(values)
    for p in TAIL_LADDER:
        # samples ranked above the interpolation point of percentile p
        beyond = n - 1 - math.floor((n - 1) * Fraction(str(p)) / 100)
        if beyond >= TAIL_MIN_BEYOND:
            return p, percentile(values, p), n
    return 100.0, max(values), n


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def _meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_heap(mem_total_kib: int | None = None) -> str:
    """Driver heap for ``SPARK_GRAFT_DRIVER_MEM``: a quarter of MemTotal.

    The quarter leaves the rest of the host to the JVM's off-heap use,
    the Python driver and workers, the page cache and other tenants.
    """
    kib = _meminfo_kib("MemTotal") if mem_total_kib is None else mem_total_kib
    return f"{max(kib // 4 // 1024, 512)}m"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(f"no VmHWM for pid {pid}")


def git_sha(root: str) -> str:
    """The checkout's commit, or ``"unknown"`` outside a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip()


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def config_stamp(root: str, spark_version: str, shuffle_partitions: str,
                 heap: str, cold: dict[str, bool]) -> dict:
    """Host and engine configuration a result was measured under."""
    return {
        "cpus": cpu_count(),
        "mem_total_mb": _meminfo_kib("MemTotal") // 1024,
        "spark": spark_version,
        "java": java_version(),
        "python": platform.python_version(),
        "git_sha": git_sha(root),
        "shuffle_partitions": shuffle_partitions,
        "driver_heap": heap,
        "cold": cold,
    }
