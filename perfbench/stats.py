"""Order statistics for the benchmark's timings."""

import math

MIN_BEYOND = 10


def percentile(values, q, min_beyond=MIN_BEYOND):
    """Nearest-rank percentile ``q`` (0 < q <= 1) of ``values``.

    Refuses (ValueError) when fewer than ``min_beyond`` samples lie beyond
    the percentile: such a tail is one or two samples, and it would move
    with every run.
    """
    xs = sorted(values)
    if not xs or not 0 < q <= 1:
        raise ValueError(f"percentile {q} of {len(xs)} samples")
    rank = max(1, math.ceil(q * len(xs)))
    beyond = len(xs) - rank
    if beyond < min_beyond:
        raise ValueError(
            f"p{round(q * 100)} of {len(xs)} samples has {beyond} beyond it; "
            f"at least {min_beyond} are needed")
    return xs[rank - 1]


def median(values):
    """Plain median, for per-run aggregates with few samples (a run's
    set-ups, one key's passes), where no tail is reported."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def mean(values):
    xs = list(values)
    return sum(xs) / len(xs) if xs else 0.0
