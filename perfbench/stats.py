"""Summary statistics for pass timings and run-to-run spreads."""

from __future__ import annotations

import math
import statistics

#: percentiles considered for a tail figure, highest last
PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)
#: a percentile is reported only with at least this many samples above it
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def beyond(n: int, p: float) -> int:
    """Samples that lie above the p-th percentile of n samples."""
    return int(math.floor(round(n * (100.0 - p) / 100.0, 6)))


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in PERCENTILES that has at
    least MIN_BEYOND samples beyond it, or None when no percentile does.
    The value is the nearest-rank percentile."""
    n = len(xs)
    best = None
    for p in PERCENTILES:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    if best is None:
        return None
    rank = max(1, math.ceil(round(best / 100.0 * n, 6)))
    return best, float(sorted(xs)[rank - 1])


def summary(xs: list[float]) -> dict:
    """Median, sample count and the tail percentile when it is supported."""
    out = {"median": median(xs), "n": len(xs)}
    t = tail(xs)
    if t is not None:
        out[f"p{t[0]:g}"] = t[1]
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of statistics.quantiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def steady(xs: list[float], window: int = 2, tolerance: float = 0.10) -> bool:
    """True when the last ``window`` passes lie within ``tolerance`` of
    their median and are not still falling: the warm-up stop rule."""
    if len(xs) < 2 * window:
        return False
    last = xs[-window:]
    prev = xs[-2 * window : -window]
    m = statistics.median(last)
    flat = max(last) - min(last) <= tolerance * m
    not_falling = m >= (1.0 - tolerance / 2) * statistics.median(prev)
    return flat and not_falling
