"""Spark-free measurement helpers: percentiles and their sample-count rule,
span self time, scratch-directory accounting and metric-name checks.

Everything here is pure Python so the unit tests in ``perfbench/tests`` run
without a JVM.
"""

from __future__ import annotations

import math
import os
import re
import statistics
from dataclasses import dataclass

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
CACHE_DIR = "sdp_spark_cache"  # the engine's per-sf derived-artifact root
MIB = 1024 * 1024


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1] (numpy's default)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q`` percentile."""
    return n - math.floor(q * (n - 1)) - 1


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    query: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(s.span_id, [])]
        out[s.span_id] = s.duration - _covered([iv for iv in clipped if iv[1] > iv[0]])
    return out


def disk_bytes(path: str) -> int:
    """Allocated bytes under ``path``, directories included, as ``du`` counts
    them; symlinks are not followed."""
    total = 0
    for root, _, files in os.walk(path):
        for name in [root] + [os.path.join(root, f) for f in files]:
            try:
                total += os.lstat(name).st_blocks * 512
            except OSError:
                pass
    return total


def scratch_usage(root: str) -> dict[str, float]:
    """Account a run's private scratch root: everything left (MiB), the
    engine's deliberate cache under ``sdp_spark_cache``, everything else
    (leaked per-invocation dirs, warehouse, metastore), and how many
    top-level directories the run created."""
    total = disk_bytes(root)
    cache_path = os.path.join(root, CACHE_DIR)
    cache = disk_bytes(cache_path) if os.path.isdir(cache_path) else 0
    dirs = sum(1 for e in os.scandir(root) if e.is_dir(follow_symlinks=False))
    return {
        "left_mb": total / MIB,
        "cache_mb": cache / MIB,
        "leaked_mb": (total - cache) / MIB,
        "dirs_created": float(dirs),
    }


def check_metric_names(names) -> None:
    """Raise ValueError on a name the result format does not allow."""
    for n in names:
        if not METRIC_NAME.fullmatch(n) or len(n) > 64 or not n[0].isalnum():
            raise ValueError(f"bad metric name: {n!r}")
