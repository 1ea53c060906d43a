"""Sample collection and summaries for the benchmark."""

from __future__ import annotations

import math
import threading
from collections import defaultdict


def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile (p in [0, 100]) of a non-empty list."""
    ys = sorted(xs)
    k = max(0, min(len(ys) - 1, math.ceil(p / 100 * len(ys)) - 1))
    return ys[k]


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    return ys[n // 2] if n % 2 else (ys[n // 2 - 1] + ys[n // 2]) / 2


def tail_pct(n: int) -> float | None:
    """Highest of p99.9/p99/p95/p90 that leaves at least ten samples
    beyond it, or None when even p90 does not."""
    for p in (99.9, 99.0, 95.0, 90.0):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def summary(xs: list[float]) -> dict:
    """Median and the highest percentile with >= 10 samples beyond it,
    with the sample count; up to 20 samples, the samples themselves."""
    if not xs:
        return {"n": 0}
    out = {"n": len(xs), "p50": median(xs)}
    p = tail_pct(len(xs))
    if p is not None:
        out[f"p{p:g}"] = pct(xs, p)
    if len(xs) <= 20:
        out["values"] = list(xs)
    return out


class Samples:
    """Thread-safe named sample lists."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.values: dict[str, list[float]] = defaultdict(list)

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.values[name].append(value)

    def summary(self, name: str, scale: float = 1.0) -> dict:
        return summary([x * scale for x in self.values.get(name, [])])
