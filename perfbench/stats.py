"""Summary statistics, the run's config record, and result comparison.

Percentile rule: a timing is reported as its median plus the highest of
p90/p99 that has at least ``MIN_TAIL`` samples strictly beyond it. A tail
percentile over fewer samples is one or two slow operations, not a
distribution, and is not reported.
"""

from __future__ import annotations

import math
import re
import statistics

MIN_TAIL = 10
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Fields that must be equal for two results to be comparable. ``seed`` and
# ``commit`` are recorded too, but they are what a comparison varies.
COMPARABLE = ("workload", "cpus", "sf", "driver_mem", "pyspark", "python",
              "seconds", "trace", "bench_digest")


class ConfigMismatch(ValueError):
    """Two results were produced under different configurations."""


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the q-quantile of n samples (nearest rank)."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(values: list[float], q: float) -> float | None:
    """The q-quantile of ``values``, or None when fewer than MIN_TAIL
    samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_TAIL:
        return None
    return sorted(values)[max(1, math.ceil(q * n)) - 1]


def summarize(values: list[float]) -> dict:
    """Median, the highest reportable tail percentile, and the count."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    for q in (0.99, 0.9):
        p = tail_percentile(values, q)
        if p is not None:
            out[f"p{round(q * 100)}"] = p
            break
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles`` gives."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def check_comparable(a: dict, b: dict) -> None:
    """Raise ConfigMismatch unless configs ``a`` and ``b`` agree on every
    COMPARABLE field."""
    diff = {k: (a.get(k), b.get(k)) for k in COMPARABLE if a.get(k) != b.get(k)}
    if diff:
        raise ConfigMismatch(f"results are not comparable: {diff}")


def compare(base: list[dict], head: list[dict]) -> dict[str, dict]:
    """Per-metric medians and spreads of two sets of results of one
    workload. Every result in both sets must share one config."""
    if not base or not head:
        raise ValueError("each side needs at least one result")
    ref = base[0]["config"]
    for r in base[1:] + head:
        check_comparable(ref, r["config"])
    out = {}
    for name in base[0]["metrics"]:
        a = [r["metrics"][name]["value"] for r in base]
        b = [r["metrics"][name]["value"] for r in head if name in r["metrics"]]
        if not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        out[name] = {
            "unit": base[0]["metrics"][name]["unit"],
            "base_median": ma,
            "head_median": mb,
            "ratio": mb / ma if ma else None,
            "base_spread": quartile_spread(a) if len(a) >= 2 else None,
            "head_spread": quartile_spread(b) if len(b) >= 2 else None,
        }
    return out
