"""Summary rules shared by every workload: the tail percentile and the
success share. Pure functions, so ``test_metrics.py`` can pin them."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

MIN_BEYOND = 10


def tail_percentile(n: int, beyond: int = MIN_BEYOND) -> int:
    """Highest whole percentile ``p`` whose nearest-rank sample still has
    at least ``beyond`` of the ``n`` samples above it.

    Nearest rank: percentile ``p`` of ``n`` sorted samples is the one at
    rank ``ceil(p * n / 100)`` (1-based), so ``n - rank`` samples lie
    beyond it. Raises ``ValueError`` when no percentile from 1 up
    qualifies, i.e. when ``n <= beyond``."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")


def tail(samples: list[float], beyond: int = MIN_BEYOND) -> tuple[float, int, int]:
    """``(value, percentile, samples beyond it)`` by :func:`tail_percentile`."""
    ordered = sorted(samples)
    p = tail_percentile(len(ordered), beyond)
    rank = math.ceil(p * len(ordered) / 100)
    return ordered[rank - 1], p, len(ordered) - rank


@dataclass
class Outcomes:
    """Counts executions: an execution succeeds only if it raised nothing
    and its result matched the oracle."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, key: str, error: str | None, matched: bool) -> bool:
        self.attempted += 1
        ok = error is None and matched
        if not ok:
            self.failed += 1
            self.failures.append(f"{key}: {error or 'result differs from the oracle'}")
        return ok

    @property
    def ok_share(self) -> float:
        if self.attempted == 0:
            raise ValueError("no execution was attempted")
        return (self.attempted - self.failed) / self.attempted
