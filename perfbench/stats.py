"""Small pure helpers: percentiles, metric-name rules and process RSS."""

from __future__ import annotations

import math
import os
import re
import resource
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# Percentiles tried from the top down by tail_percentile.
_TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def check_metric(name: str, unit: str) -> None:
    """Raise ValueError unless ``name`` and ``unit`` fit the result format."""
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT_RE.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")


def _rank(p: float, n: int) -> int:
    # nearest rank, rounded first so 99.9% of 10000 is 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile that leaves at least ``beyond`` of ``n``
    samples above it, or None when even the median does not."""
    for p in _TAIL_CANDIDATES:
        if n - _rank(p, n) >= beyond:
            return p
    return None


def summarize(values: list[float]) -> str:
    """'median X, pNN Y, n=K' with the tail percentile the sample allows."""
    if not values:
        return "n=0"
    med = statistics.median(values)
    p = tail_percentile(len(values))
    tail = f"p{p:g} {percentile(values, p):.4f}" if p is not None else "no tail (n<20)"
    return f"median {med:.4f}, {tail}, n={len(values)}"


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid`` in MiB, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return parse_vmhwm_kb(fh.read()) / 1024.0


def parse_vmhwm_kb(status_text: str) -> int:
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise ValueError("no VmHWM line in /proc status")


def driver_peak_rss_mb() -> float:
    """Peak RSS of this Python process in MiB (Linux reports KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def busy_cpu_s() -> float:
    """CPU seconds this machine has spent busy since boot."""
    with open("/proc/stat", encoding="ascii") as fh:
        return parse_busy_jiffies(fh.readline()) / os.sysconf("SC_CLK_TCK")


def parse_busy_jiffies(cpu_line: str) -> int:
    """user + nice + system + irq + softirq of /proc/stat's ``cpu`` line.
    Idle, iowait and steal (time the hypervisor gave this machine's
    virtual CPUs to other guests) are left out; guest time is already
    inside user."""
    f = cpu_line.split()
    if f[0] != "cpu":
        raise ValueError(f"not the cpu line of /proc/stat: {cpu_line!r}")
    user, nice, system, _idle, _iowait, irq, softirq = (int(x) for x in f[1:8])
    return user + nice + system + irq + softirq
