"""Small statistics the benchmark reports, kept pure so the self-tests
can pin them down."""

from __future__ import annotations

import math
import statistics

# a percentile is reported only when at least this many samples lie
# beyond it, so one slow op cannot be the whole tail
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100])."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - max(1, math.ceil(q / 100.0 * n))


def reportable(n: int, q: float) -> bool:
    return beyond(n, q) >= MIN_BEYOND


class Outcomes:
    """Per-op outcomes. An op fails when it raised or when its output
    did not pass its check, whenever that check ran; a failed op counts
    once however many ways it failed."""

    def __init__(self) -> None:
        self._failed: dict[int, bool] = {}

    def record(self, op: int, error: str | None, check_ok: bool) -> None:
        self._failed[op] = error is not None or not check_ok

    def mark_wrong(self, ops) -> None:
        """A later check found these ops' output wrong."""
        for op in ops:
            if op in self._failed:
                self._failed[op] = True

    @property
    def attempted(self) -> int:
        return len(self._failed)

    @property
    def failed(self) -> int:
        return sum(self._failed.values())

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def spread(values: list[float]) -> dict:
    """Median, quartiles and the quartile distance as a share of the
    median (the steadiness figure), plus the max/min spread."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "n": len(values),
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / statistics.median(values),
        "min": min(values),
        "max": max(values),
        "range_share": (max(values) - min(values)) / statistics.median(values),
    }
