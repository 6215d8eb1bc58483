"""Summary statistics for the benchmark's latency series.

Every timing the benchmark reports is a median plus the highest standard
percentile that still has at least ``MIN_BEYOND`` samples above it, and
it always carries its sample count.
"""
from __future__ import annotations

import math

import numpy as np

PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10
TREND_TOLERANCE = 0.10


def percentile(values, p: float) -> float:
    if not len(values):
        raise ValueError("percentile of an empty series")
    return float(np.percentile(values, p))


def median(values) -> float:
    return percentile(values, 50.0)


def samples_beyond(n: int, p: float) -> float:
    """Expected number of samples above the p-th percentile of n."""
    return n * (1.0 - p / 100.0)


def tail_percentile(n: int) -> float | None:
    """Highest of PERCENTILES with at least MIN_BEYOND samples beyond it
    in a series of n, or None when even the median has fewer."""
    ok = [p for p in PERCENTILES if samples_beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def trend(values, tol: float = TREND_TOLERANCE) -> dict:
    """First-half vs second-half medians of a series in issue order. A
    ratio outside 1 ± tol flags a series that was still ramping (or
    drifting) while it was measured."""
    if len(values) < 4:
        return {"ratio": 1.0, "flag": False}
    half = len(values) // 2
    first, second = median(values[:half]), median(values[half:])
    ratio = second / first if first > 0 else 1.0
    return {"ratio": ratio, "flag": abs(ratio - 1.0) > tol}


def summarize(values) -> dict:
    """n, median, tail percentile and value, and the trend of a series."""
    n = len(values)
    if n == 0:
        raise ValueError("summary of an empty series")
    tp = tail_percentile(n)
    return {"n": n, "p50": median(values),
            "tail_p": tp, "tail": percentile(values, tp) if tp else None,
            "trend": trend(values)}


def metric(value: float, unit: str) -> dict:
    """One reported metric: a finite number with its unit."""
    v = float(value)
    if not math.isfinite(v):
        raise ValueError(f"metric value {value!r} is not finite")
    if not unit:
        raise ValueError("metric without a unit")
    return {"value": v, "unit": unit}


def check_metrics(got: dict, declared: list[dict]) -> None:
    """Raise unless ``got`` holds exactly the declared metric names, each
    with the declared unit."""
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        raise ValueError(
            f"metrics mismatch: missing {sorted(set(want) - set(got))}, "
            f"undeclared {sorted(set(got) - set(want))}")
    for name, rec in got.items():
        if rec.get("unit") != want[name]:
            raise ValueError(
                f"{name}: unit {rec.get('unit')!r} != {want[name]!r}")
