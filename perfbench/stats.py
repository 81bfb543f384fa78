"""Summary statistics used by every metric of the benchmark."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is only reported with at least this many samples beyond it
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, q: float = 0.99, beyond: int = TAIL_BEYOND) -> float:
    """Nearest-rank percentile ``q``, lowered to the highest rank that still
    has ``beyond`` samples above it. With 2,000 samples this is the p99;
    with 200 it is the 190th value (the p95). Needs ``beyond + 1`` samples."""
    n = len(values)
    rank = min(math.ceil(q * n), n - beyond)
    if rank < 1:
        raise ValueError(f"{n} samples: a tail needs at least {beyond + 1}")
    return float(sorted(values)[rank - 1])


def tail_rank_q(n: int, q: float = 0.99, beyond: int = TAIL_BEYOND) -> float:
    """The percentile (0-100) that ``tail`` reports for ``n`` samples."""
    return 100.0 * min(math.ceil(q * n), n - beyond) / n
