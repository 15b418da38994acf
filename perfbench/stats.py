"""Summary statistics, failure accounting and process diagnostics."""

from __future__ import annotations

import math
import os
import resource
import statistics
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def mean_class_median(by_class: dict[str, list[float]]) -> float:
    """The query mix's typical latency: each class's median, averaged over
    the classes, which weigh equally as the generated mix sends them. A
    run holds 2-4 samples per class; the median of the pooled samples then
    jumps between neighbouring classes (IQR/median 0.26 over 10 seeds on an
    idle 4-vCPU VM), while the mean of the nine medians spread 0.09."""
    if not by_class:
        raise ValueError("no query classes")
    return sum(median(v) for v in by_class.values()) / len(by_class)


@dataclass(frozen=True)
class Tail:
    """The highest percentile (at most ``cap``) that leaves at least
    ``min_beyond`` samples above it, its value, and the sample count."""

    pct: int
    value: float
    n: int


def tail(values: list[float], cap: int = 90, min_beyond: int = 10) -> Tail:
    n = len(values)
    if n <= min_beyond:
        raise ValueError(f"{n} samples leave no percentile with {min_beyond} beyond it")
    # p% of n at or below leaves n - ceil(p*n/100) beyond; the largest
    # whole p with n - ceil(p*n/100) >= min_beyond
    pct = cap
    while pct > 0 and n - math.ceil(pct * n / 100) < min_beyond:
        pct -= 1
    return Tail(pct, percentile(values, pct), n)


@dataclass
class Failures:
    """Operations attempted and failed. A failure is a non-2xx response,
    an exception, a timeout or a wrong answer; each keeps its reason."""

    attempted: int = 0
    reasons: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len(self.reasons)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def record(
        self,
        what: str,
        *,
        status: int | None = 200,
        error: str | None = None,
        mismatch: str | None = None,
    ) -> bool:
        """Count one attempted operation and return whether it succeeded:
        ``error`` is an exception or timeout, ``status`` the HTTP status
        (None when no response came) and ``mismatch`` a wrong answer."""
        self.attempted += 1
        if error is not None:
            reason = f"{what}: {error}"
        elif status is None or not 200 <= status < 300:
            reason = f"{what}: HTTP {status}"
        elif mismatch is not None:
            reason = f"{what}: wrong answer: {mismatch}"
        else:
            return True
        self.reasons.append(reason)
        return False


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every live descendant (the
    JVM and its Python workers): the sum of each process's own peak."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids_kb = sum(_status_kb(p, "VmHWM") for p in descendants(os.getpid()))
    return (own_kb + kids_kb) / 1024.0
