"""Summary statistics for the benchmark's latency samples."""

from __future__ import annotations

import math


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float, int]:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, as ``(percentile, value, samples_beyond)``.

    Percentiles use the nearest-rank definition: the p-th percentile of n
    sorted samples is the k-th smallest, k = ceil(p * n / 100), and
    n - k samples lie beyond it, so the answer is the sample with
    ``beyond`` samples above it. With ``beyond`` or fewer samples no
    percentile qualifies; the rule's limit, percentile 0 (the minimum),
    is returned, so the value moves smoothly as the sample count crosses
    ``beyond``.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return 0, xs[0], n - 1
    p = (100 * (n - beyond)) // n
    k = max(1, math.ceil(p * n / 100))
    return p, xs[k - 1], n - k
