"""Typed analysis specifications.

These dataclasses mirror the reference's analytics API surface
(reference: raise_/analytics/analysis.py:30-470) — same metric whitelists,
same fields, same validation errors — but here they are the *logical plan
input* to a real Spark compiler rather than a mocked service call.

Each spec is pure data; compilation to a DataFrame plan lives in the sibling
modules (aggregation.py, distribution.py, correlation.py, ...). This keeps
spec validation instant (no Spark session needed) and makes the spec
hashable for the freshness-policied result cache.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import asdict, dataclass, field
from typing import Any

AGGREGATION_METRICS = frozenset(
    {
        "count",
        "sum",
        "avg",
        "mean",
        "min",
        "max",
        "stddev",
        "variance",
        "median",
        "null_rate",
        "null_count",
        "distinct_count",
        "approx_distinct_count",  # HLL sketch — the 100 TB posture
        "p50",
        "p75",
        "p90",
        "p95",
        "p99",
    }
)

DISTRIBUTION_METRICS = frozenset(
    {"histogram", "percentiles", "quantiles", "cdf", "density", "skewness", "kurtosis"}
)

CORRELATION_METHODS = frozenset({"pearson", "spearman", "kendall"})

STAT_TESTS = frozenset({"ttest", "welch", "mannwhitney", "chi2", "ks", "anova"})

DRIFT_METRICS = frozenset({"psi", "kl_divergence", "js_divergence", "wasserstein", "ks_statistic"})

QUALITY_CHECKS = frozenset(
    {"completeness", "validity", "uniqueness", "freshness", "consistency", "outliers"}
)

_DURATION_RE = re.compile(r"^(\d+)\s*(s|m|h|d|w)$")

_DURATION_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def parse_duration_seconds(spec: str) -> int:
    """Parse the reference's duration grammar ``"7d" | "30m" | ...``.

    (reference: raise_/analytics/freshness.py:69-93 — units s/m/h/d/w)
    """
    m = _DURATION_RE.match(spec.strip())
    if not m:
        raise ValueError(f"invalid duration: {spec!r} (expected e.g. '30s', '5m', '2h', '7d', '1w')")
    return int(m.group(1)) * _DURATION_SECONDS[m.group(2)]


class AnalysisSpecError(ValueError):
    pass


@dataclass
class _Spec:
    def to_dict(self) -> dict[str, Any]:
        d = asdict(self)
        d["__analysis__"] = type(self).__name__
        return d

    def cache_key(self) -> str:
        """md5 of the sorted-JSON spec — the freshness cache key.

        (reference: raise_/analytics/client.py:194-199)
        """
        return hashlib.md5(
            json.dumps(self.to_dict(), sort_keys=True, default=str).encode()
        ).hexdigest()


@dataclass
class Aggregation(_Spec):
    """Grouped/windowed/rolling aggregate metrics over features.

    (reference: raise_/analytics/analysis.py:30-92; SQL semantics
    raise_/PRD.md:954-993)
    """

    features: list[str]
    metrics: list[str]
    group_by: str | None = None
    window: str | None = None  # e.g. "7d" → WHERE ts >= anchor - 7d
    filter: str | None = None  # SQL boolean expression
    rolling: bool = False
    periods: int = 7
    time_column: str | None = None  # engine addition: which ts drives window/rolling
    # engine addition, the 100 TB posture for percentile-family metrics:
    # exact percentile buffers every group value; approx_percentile keeps a
    # bounded GK sketch per group (error ≤ 1/accuracy of rank) and stays
    # mergeable map-side. Default exact so oracles are bit-checkable.
    approx_percentiles: bool = False
    percentile_accuracy: int = 10_000
    # engine addition, the flake-class killer for sum/avg/stddev/variance:
    # accumulate in exact DECIMAL(18,g) (rows pre-snapped to the 1e-g grid
    # with the IEEE floor form) so the moments are independent of partition
    # count, merge order, AND engine ROUND semantics; only the final
    # formula runs in (deterministic, identically-written) double ops.
    # TWO domain bounds, both set by moment_grid_decimals (default g=4):
    #  - overflow: rows with |x| ≥ 10^(17-g) poison the group to NaN
    #    (loud, instead of ANSI cast errors); opt out entirely for such
    #    domains via exact_moments=False.
    #  - quantization: each row is snapped to the 1e-g grid BEFORE
    #    summing, so per-row error is ≤ 0.5e-g. For data whose magnitude
    #    is itself below ~0.5e-g (rates, probabilities, tiny measurements)
    #    every row snaps to 0 and the aggregate would be arbitrarily
    #    wrong — consistently on BOTH engines, invisible to the oracle.
    #    GUARDED since r7: an in-plan sentinel counts nonzero rows below
    #    half a grid step and POISONS the group to NaN when they are the
    #    majority (functions/stable.underflow_poison — loud, instead of a
    #    confidently wrong 0.0). RAISE g (e.g. 8 for unit-scale/
    #    probability data) so the grid is lossless for your feature's
    #    magnitude; keep typical |x| ≥ ~10·1e-g.
    exact_moments: bool = True
    moment_grid_decimals: int = 4

    def __post_init__(self) -> None:
        bad = set(self.metrics) - AGGREGATION_METRICS
        if bad:
            raise AnalysisSpecError(
                f"unknown aggregation metrics {sorted(bad)}; allowed: {sorted(AGGREGATION_METRICS)}"
            )
        if not self.features:
            raise AnalysisSpecError("Aggregation requires at least one feature")
        if self.rolling and self.periods < 1:
            raise AnalysisSpecError("rolling aggregation requires periods >= 1")
        if not (0 <= self.moment_grid_decimals <= 12):
            raise AnalysisSpecError(
                "moment_grid_decimals must be in [0, 12] "
                "(DECIMAL(18, g) needs integer headroom)"
            )
        if self.window:
            parse_duration_seconds(self.window)


@dataclass
class Distribution(_Spec):
    """Histogram / percentile / moment analysis of one feature.

    (reference: raise_/analytics/analysis.py:96-147; WIDTH_BUCKET semantics
    raise_/PRD.md:997-1004)
    """

    feature: str
    metrics: list[str] = field(default_factory=lambda: ["histogram"])
    bins: int = 10
    segment_by: str | None = None
    sample_size: int | None = None
    filter: str | None = None
    percentiles: list[float] = field(default_factory=lambda: [0.25, 0.5, 0.75, 0.9, 0.99])
    # 100 TB posture: mergeable bounded-memory sketch instead of exact
    # buffering (see Aggregation.approx_percentiles)
    approx_percentiles: bool = False
    percentile_accuracy: int = 10_000

    def __post_init__(self) -> None:
        bad = set(self.metrics) - DISTRIBUTION_METRICS
        if bad:
            raise AnalysisSpecError(f"unknown distribution metrics {sorted(bad)}")
        if self.bins < 1:
            raise AnalysisSpecError("bins must be >= 1")


@dataclass
class Correlation(_Spec):
    """N×N correlation matrix over numeric features.

    (reference: raise_/analytics/analysis.py:152-195; semantics
    raise_/PRD.md:1016-1028)
    """

    features: list[str]
    method: str = "pearson"
    sample_size: int | None = None
    filter: str | None = None
    # engine addition (kendall + spearman): exact=True opts into the
    # exact full-population path — kendall: the distributed 3-term
    # inversion decomposition (analytics/kendall_full.kendall_tau_matrix,
    # one data-scale range exchange for every pair) instead of the
    # bounded-sample estimate; spearman: the row-level average-rank
    # kernel (one range shuffle + one pivot shuffle) instead of the
    # default grid-snapped matrix whose rank maps are grid-bounded and
    # collected once (correlation._grid_corr_matrix — near-ties within
    # half a sig-grid step become exact ties, everything else identical).
    # Pearson is always exact.
    exact: bool = False

    def __post_init__(self) -> None:
        if self.method not in CORRELATION_METHODS:
            raise AnalysisSpecError(f"unknown correlation method {self.method!r}")
        if len(self.features) < 2:
            raise AnalysisSpecError("Correlation requires >= 2 features")
        if self.exact and self.method == "pearson":
            raise AnalysisSpecError(
                "exact=True applies to kendall (full tau-b) and spearman "
                "(row-rank kernel); pearson is exact by construction"
            )
        if self.exact and self.method == "kendall" and self.sample_size:
            raise AnalysisSpecError(
                "exact=True computes the full population; drop sample_size"
            )


@dataclass
class StatTest(_Spec):
    """Two-sample / k-sample statistical test, control vs treatment via
    ``segment_by``. (reference: raise_/analytics/analysis.py:250-306)
    """

    feature: str
    test: str
    segment_by: str
    control: Any = None
    treatment: Any = None
    filter: str | None = None
    # mean-difference CI for the two-arm t tests (reference:
    # analysis.py:263,282 confidence_level). Opt-in so the statistic-only
    # oracle SQL stays unchanged.
    confidence_interval: bool = False
    confidence_level: float = 0.95

    def __post_init__(self) -> None:
        if self.test not in STAT_TESTS:
            raise AnalysisSpecError(f"unknown stat test {self.test!r}; allowed {sorted(STAT_TESTS)}")
        if not 0.0 < self.confidence_level < 1.0:
            raise AnalysisSpecError("confidence_level must be in (0, 1)")


@dataclass
class VersionDiff(_Spec):
    """Compare two versions of a feature: schema + distribution drift.

    (reference: raise_/analytics/analysis.py:199-246; drift metrics
    raise_/PRD.md:671-676)
    """

    feature: str
    from_version: str
    to_version: str
    compare: list[str] = field(default_factory=lambda: ["schema", "distribution", "statistics"])
    bins: int = 10


@dataclass
class Drift(_Spec):
    """Baseline-vs-current distribution drift.

    (reference: raise_/analytics/analysis.py:417-470, metrics :445-451)
    """

    feature: str
    metrics: list[str] = field(default_factory=lambda: ["psi"])
    bins: int = 10
    baseline_filter: str | None = None
    current_filter: str | None = None
    threshold: float | None = None

    def __post_init__(self) -> None:
        bad = set(self.metrics) - DRIFT_METRICS
        if bad:
            raise AnalysisSpecError(f"unknown drift metrics {sorted(bad)}")


@dataclass
class RecordLookup(_Spec):
    """Project + filter + order + limit + sample record retrieval.

    (reference: raise_/analytics/analysis.py:309-362)
    """

    features: list[str] | None = None
    filter: str | None = None
    sample: int | None = None
    order_by: str | None = None
    descending: bool = False
    limit: int = 100


@dataclass
class DataQuality(_Spec):
    """Aggregate quality checks over a feature group.

    (reference: raise_/analytics/analysis.py:366-414)
    """

    features: list[str]
    checks: list[str] = field(default_factory=lambda: ["completeness"])
    key_columns: list[str] | None = None
    time_column: str | None = None
    outlier_stddevs: float = 3.0
    # engine addition: named cross-column predicates for the "consistency"
    # check (the reference's ConsistencyCheck takes free-form rules,
    # raise_/transforms/observability.py:240-279)
    consistency_rules: dict[str, str] | None = None

    def __post_init__(self) -> None:
        bad = set(self.checks) - QUALITY_CHECKS
        if bad:
            raise AnalysisSpecError(f"unknown quality checks {sorted(bad)}")
