"""Summary statistics and the result-line schema (no Spark needed)."""

from __future__ import annotations

import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct`` percentile by the nearest-rank rule."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    return ordered[_rank(pct, len(ordered)) - 1]


def _rank(pct: float, n: int) -> int:
    return int(max(1, -(-(pct * n) // 100)))  # ceil(pct * n / 100), exact for whole pct


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[int, float, int] | None:
    """The highest whole percentile with at least ``min_beyond`` samples
    above its nearest-rank position, as ``(pct, value, n)``; None when
    there are too few samples for any."""
    n = len(values)
    if n <= min_beyond:
        return None
    pct = (100 * (n - min_beyond)) // n
    if pct <= 0:
        return None
    return pct, nearest_rank(values, pct), n


def samples_beyond(values: list[float], pct: float) -> int:
    """How many samples lie past the nearest-rank ``pct`` position."""
    return len(values) - _rank(pct, len(values))


def check_result_line(obj: dict, metric_names: list[str], units: dict[str, str]) -> None:
    """Raise ValueError unless ``obj`` is a well-formed final result line
    carrying exactly ``metric_names``."""
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise ValueError("correct must be a bool")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise ValueError(f"{k} must be a whole number")
    if obj["attempted"] < 1 or obj["failed"] > obj["attempted"]:
        raise ValueError("attempted must be >= 1 and >= failed")
    metrics = obj["metrics"]
    if set(metrics) != set(metric_names):
        raise ValueError(f"metric set differs: {sorted(set(metrics) ^ set(metric_names))}")
    for name, m in metrics.items():
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or m["unit"] != units[name]:
            raise ValueError(f"bad metric entry {name}: {m}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")
