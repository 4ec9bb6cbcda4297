"""Small statistics helpers for the benchmark report."""

from __future__ import annotations

from typing import Sequence, Tuple

TAIL_BEYOND = 10


def tail_percentile(xs: Sequence[float], beyond: int = TAIL_BEYOND) -> Tuple[float, float]:
    """The highest percentile that has at least ``beyond`` samples above it:
    the order statistic with exactly ``beyond`` larger samples.  Returns
    (percentile, value); needs more than ``beyond`` samples."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    ordered = sorted(xs)
    rank = n - beyond  # 1-based rank of the chosen sample
    return 100.0 * rank / n, float(ordered[rank - 1])
