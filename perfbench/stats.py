"""Small statistics helpers for the benchmark's reported metrics."""

from __future__ import annotations

#: a tail percentile is reported only when at least this many samples lie
#: beyond it
MIN_TAIL_SAMPLES = 10


def supports_percentile(n_samples: int, pct: float, min_tail: int = MIN_TAIL_SAMPLES) -> bool:
    """True when ``n_samples`` leave at least ``min_tail`` samples above the
    ``pct`` percentile (p90 needs 100 samples, p99 needs 1000)."""
    return n_samples * (100 - pct) / 100 >= min_tail


def highest_supported_percentile(
    n_samples: int, candidates: tuple[float, ...] = (90, 99), min_tail: int = MIN_TAIL_SAMPLES
) -> float | None:
    """The highest tail percentile in ``candidates`` that ``n_samples``
    support, or None.  A thinner percentile is never reported under a
    higher one's name."""
    supported = [p for p in candidates if supports_percentile(n_samples, p, min_tail)]
    return max(supported) if supported else None


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the same rule as numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
