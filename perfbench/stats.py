"""The benchmark's own arithmetic: percentiles, error accounting, spread."""

from __future__ import annotations

import math
import os
import statistics
import time

# A percentile is reported only when at least this many samples lie above
# it; with fewer, the value is one or two unlucky requests, not a tail.
MIN_TAIL_SAMPLES = 10


def samples_above(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q / 100.0 * n))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; refuses a tail the sample cannot support."""
    n = len(values)
    if n == 0:
        raise ValueError("percentile of an empty sample")
    if q > 50 and samples_above(n, q) < MIN_TAIL_SAMPLES:
        raise ValueError(f"p{q:g} needs {MIN_TAIL_SAMPLES} samples above "
                         f"it; {n} samples leave {samples_above(n, q)}")
    s = sorted(values)
    return s[max(1, math.ceil(q / 100.0 * n)) - 1]


def min_samples_for(q: float) -> int:
    """Smallest sample count whose q-th percentile is reportable."""
    n = 1
    while samples_above(n, q) < MIN_TAIL_SAMPLES:
        n += 1
    return n


def iqr_share(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


class Ledger:
    """Operations attempted and failed, by kind. An operation fails when
    it errors, is refused, or a later check finds its output wrong."""

    def __init__(self):
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}

    def record(self, kind: str, ok: bool = True, n: int = 1) -> None:
        self.attempted[kind] = self.attempted.get(kind, 0) + n
        if not ok:
            self.failed[kind] = self.failed.get(kind, 0) + n

    def wrong(self, kind: str, n: int = 1) -> None:
        """Mark `n` already-attempted, successful operations as wrong."""
        ok = self.attempted.get(kind, 0) - self.failed.get(kind, 0)
        if n > ok:
            raise ValueError(f"{kind}: {n} wrong but only {ok} succeeded")
        self.failed[kind] = self.failed.get(kind, 0) + n

    @property
    def total_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def total_failed(self) -> int:
        return sum(self.failed.values())

    @property
    def error_rate(self) -> float:
        return self.total_failed / max(1, self.total_attempted)


def host_sentinel() -> dict:
    """Load average plus the time of a fixed CPU-bound loop: a degraded
    host shows up as a high load or a slow calibration."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return {"loadavg": [round(x, 2) for x in os.getloadavg()],
            "calib_ms": round((time.perf_counter() - t0) * 1e3, 2)}
