"""Small statistics helpers shared by the workloads and the tests."""

from __future__ import annotations

import statistics
import threading

#: A percentile is reported only when at least this many samples lie
#: beyond it, so a p90 needs 100 samples and a p50 needs 20.
MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) by linear interpolation between
    order statistics, or None when fewer than ``MIN_TAIL`` samples lie
    beyond it."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    n = len(values)
    if round(n * (1.0 - q), 9) < MIN_TAIL:
        return None
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Tally:
    """Attempted and failed operations, counted under a lock. Every
    failure counts; only the first message of each key is kept."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: dict[str, str] = {}
        self._lock = threading.Lock()

    def attempt(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, key: str, message: str) -> None:
        with self._lock:
            self.failed += 1
            self.messages.setdefault(key, message)
