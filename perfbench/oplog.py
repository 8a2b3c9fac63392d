"""Operation log of one run: latencies per request class, items done,
busy time, and attempted/failed counts, plus the percentile rule."""

from __future__ import annotations

import math
import statistics
import sys
import threading
from dataclasses import dataclass, field

# Percentiles considered for the tail, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile on LADDER that has at least MIN_BEYOND
    samples above it (nearest-rank), as (percentile, value); None when
    even the median lacks that many (fewer than 20 samples)."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in LADDER:
        k = math.ceil(p * n / 100.0 - 1e-9)  # nearest rank, float-safe
        if k >= 1 and n - k >= MIN_BEYOND:
            best = (p, xs[k - 1])
    return best


@dataclass
class OpLog:
    latencies: dict[str, list[float]] = field(default_factory=dict)
    items: int = 0
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, cls: str, seconds: float, items: int = 0) -> None:
        """One timed operation; ``items`` of work count toward throughput."""
        with self._lock:
            self.latencies.setdefault(cls, []).append(seconds)
            self.items += items
            self.busy_s += seconds

    def verdict(self, problems: list[str]) -> None:
        """Count one attempted operation, failed when its output checks
        listed any problem (the first few go to stderr)."""
        with self._lock:
            self.attempted += 1
            if problems:
                self.failed += 1
                for p in problems[:3]:
                    print(f"check failed: {p}", file=sys.stderr)

    def all_latencies(self) -> list[float]:
        return [x for xs in self.latencies.values() for x in xs]

    def p50_ms(self, cls: str | None = None) -> float:
        xs = self.all_latencies() if cls is None else self.latencies.get(cls, [])
        return statistics.median(xs) * 1000.0 if xs else 0.0

    def throughput(self) -> float:
        return self.items / self.busy_s if self.busy_s else 0.0
