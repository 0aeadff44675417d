"""Summary statistics of one run."""

from __future__ import annotations

#: A percentile is reported only when at least ten samples lie beyond it;
#: for p90 that is 100 samples.
P90_MIN_SAMPLES = 100


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(prefix: str, seconds: list[float]) -> dict[str, dict]:
    """``<prefix>_p50_ms`` always (when there are samples) and
    ``<prefix>_p90_ms`` only with at least ``P90_MIN_SAMPLES``; each
    carries its sample count."""
    out: dict[str, dict] = {}
    if not seconds:
        return out
    ms = [s * 1000 for s in seconds]
    out[f"{prefix}_p50_ms"] = {"value": percentile(ms, 50), "unit": "ms", "samples": len(ms)}
    if len(ms) >= P90_MIN_SAMPLES:
        out[f"{prefix}_p90_ms"] = {"value": percentile(ms, 90), "unit": "ms", "samples": len(ms)}
    return out


def error_rate(attempted: int, failed: int) -> float:
    """Failed or wrong-result operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    return failed / attempted

