"""Unit tests for the pure-Python special-function library and the
statistical operators' numeric behavior (values cross-checked against
published tables / scipy outputs computed offline)."""

from __future__ import annotations

import math

import pytest

from raise_featurestore_spark.functions import special as S


class TestSpecialFunctions:
    def test_norm_sf(self):
        assert S.norm_sf(0.0) == pytest.approx(0.5)
        assert S.norm_sf(1.959963985) == pytest.approx(0.025, rel=1e-6)
        assert S.norm_sf(-1.959963985) == pytest.approx(0.975, rel=1e-6)

    def test_t_sf(self):
        # t-table: P(T > 2.228) = 0.025 at df=10
        assert S.t_sf(2.228, 10) == pytest.approx(0.025, rel=1e-3)
        # symmetric
        assert S.t_sf(-2.228, 10) == pytest.approx(0.975, rel=1e-3)
        # large df → normal
        assert S.t_sf(1.96, 1e6) == pytest.approx(S.norm_sf(1.96), rel=1e-3)
        assert S.t_sf_two_sided(2.228, 10) == pytest.approx(0.05, rel=1e-3)

    def test_f_sf(self):
        # F-table: P(F > 3.326) = 0.05 at (3, 10) -> critical value 3.7083
        assert S.f_sf(3.7083, 3, 10) == pytest.approx(0.05, rel=1e-3)
        assert S.f_sf(0.0, 3, 10) == pytest.approx(1.0)

    def test_chi2_sf(self):
        # chi2-table: critical value 3.841 at df=1, p=0.05
        assert S.chi2_sf(3.841459, 1) == pytest.approx(0.05, rel=1e-4)
        # df=4, critical 9.488
        assert S.chi2_sf(9.487729, 4) == pytest.approx(0.05, rel=1e-4)
        assert S.chi2_sf(0.0, 4) == pytest.approx(1.0)

    def test_betainc_bounds(self):
        assert S.betainc_reg(2, 3, 0.0) == 0.0
        assert S.betainc_reg(2, 3, 1.0) == 1.0
        # I_0.5(2,2) = 0.5 by symmetry
        assert S.betainc_reg(2, 2, 0.5) == pytest.approx(0.5, rel=1e-10)

    def test_gammainc_bounds(self):
        assert S.gammainc_upper_reg(2.0, 0.0) == 1.0
        # Q(1, x) = exp(-x)
        assert S.gammainc_upper_reg(1.0, 2.0) == pytest.approx(math.exp(-2.0), rel=1e-10)

    def test_ks_sf(self):
        assert S.ks_sf(0.0, 100) == 1.0
        # large D → tiny p
        assert S.ks_sf(0.5, 1000) < 1e-10
        # Q_KS(1.36) ≈ 0.049 → D = 1.36/sqrt(n) at the 5% level
        n = 10000.0
        d = 1.358 / (math.sqrt(n) + 0.12 + 0.11 / math.sqrt(n))
        assert S.ks_sf(d, n) == pytest.approx(0.05, rel=0.02)


class TestStatTestNumerics:
    """End-to-end: known small samples through the Spark compilers."""

    def test_welch_known_values(self, spark):
        import pandas as pd

        from raise_featurestore_spark.analytics.analysis import StatTest
        from raise_featurestore_spark.analytics.stattest import compile_stattest

        # ground truth by hand: t = 2.581989, df = 5.5385; p two-sided
        # = 0.0448159 (independent numerical integration of the t pdf)
        a = [1.0, 2.0, 3.0, 4.0, 5.0]
        b = [0.0, 1.0, 1.0, 2.0, 1.0]
        pdf = pd.DataFrame(
            {"x": a + b, "g": ["a"] * 5 + ["b"] * 5}
        )
        df = spark.createDataFrame(pdf)
        spec = StatTest(feature="x", test="welch", segment_by="g", control="a", treatment="b")
        row = compile_stattest(df, spec, round_to=6).collect()[0]
        assert row["statistic"] == pytest.approx(2.581989, rel=1e-4)
        assert row["df"] == pytest.approx(5.538462, rel=1e-4)
        assert row["p_value"] == pytest.approx(0.0448159, rel=1e-3)

    def test_chi2_2x2(self, spark):
        import pandas as pd

        from raise_featurestore_spark.analytics.analysis import StatTest
        from raise_featurestore_spark.analytics.stattest import compile_stattest

        # classic 2x2: [[10, 20], [20, 10]] → chi2 = 6.6667 (no Yates), p = 0.00982
        rows = (
            [("x1", "s1")] * 10 + [("x1", "s2")] * 20 + [("x2", "s1")] * 20 + [("x2", "s2")] * 10
        )
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["f", "s"]))
        spec = StatTest(feature="f", test="chi2", segment_by="s")
        row = compile_stattest(df, spec, round_to=6).collect()[0]
        assert row["statistic"] == pytest.approx(6.6667, rel=1e-3)
        assert row["p_value"] == pytest.approx(0.009823, rel=1e-2)

    def test_kendall_perfect_orders(self, spark):
        import pandas as pd

        from raise_featurestore_spark.analytics.analysis import Correlation
        from raise_featurestore_spark.analytics.correlation import compile_correlation

        pdf = pd.DataFrame({"a": [1.0, 2, 3, 4, 5], "b": [2.0, 4, 6, 8, 10],
                            "c": [5.0, 4, 3, 2, 1]})
        df = spark.createDataFrame(pdf)
        out = compile_correlation(df, Correlation(features=["a", "b", "c"], method="kendall"))
        got = {(r["feature_a"], r["feature_b"]): r["corr"] for r in out.collect()}
        assert got[("a", "b")] == pytest.approx(1.0)
        assert got[("a", "c")] == pytest.approx(-1.0)
        assert got[("a", "a")] == pytest.approx(1.0)

    def test_drift_identical_is_zero(self, spark):
        import pandas as pd

        from raise_featurestore_spark.analytics.analysis import Drift
        from raise_featurestore_spark.analytics.drift import compile_drift

        pdf = pd.DataFrame({"x": list(range(100)) * 2, "side": ["b"] * 100 + ["c"] * 100})
        df = spark.createDataFrame(pdf)
        spec = Drift(feature="x", metrics=["psi", "kl_divergence", "js_divergence",
                                           "wasserstein", "ks_statistic"],
                     baseline_filter="side = 'b'", current_filter="side = 'c'")
        row = compile_drift(df, spec).collect()[0]
        for m in spec.metrics:
            assert row[m] == pytest.approx(0.0, abs=1e-9), m


def test_t_ppf_known_quantiles():
    from raise_featurestore_spark.functions.special import t_ppf, t_sf

    # textbook critical values
    assert abs(t_ppf(0.975, 10) - 2.2281) < 1e-3
    assert abs(t_ppf(0.975, 1e9) - 1.9600) < 1e-3  # -> normal
    assert abs(t_ppf(0.95, 5) - 2.0150) < 1e-3
    assert t_ppf(0.5, 7) == 0.0
    assert abs(t_ppf(0.025, 10) + 2.2281) < 1e-3  # symmetry
    # round-trip: sf(ppf(p)) == 1 - p
    for p in (0.6, 0.9, 0.99):
        assert abs(t_sf(t_ppf(p, 12), 12) - (1 - p)) < 1e-9


def test_welch_confidence_interval(spark):
    from raise_featurestore_spark.analytics.analysis import StatTest
    from raise_featurestore_spark.analytics.stattest import compile_stattest

    rows = [("a", float(v)) for v in range(10)] + [("b", float(v) + 2.5) for v in range(12)]
    df = spark.createDataFrame(rows, ["arm", "x"])
    spec = StatTest(feature="x", test="welch", segment_by="arm",
                    control="a", treatment="b",
                    confidence_interval=True, confidence_level=0.95)
    r = compile_stattest(df, spec, include_p=False).collect()[0]
    # diff = mean(a) - mean(b) = 4.5 - 8.0 = -3.5; CI must bracket it
    assert r.ci_lo < -3.5 < r.ci_hi
    assert r.confidence_level == 0.95
    # CI excludes 0 iff |t| > t_crit — here the shift is large vs spread
    assert r.ci_hi < 0
    # wider level -> wider interval
    spec99 = StatTest(feature="x", test="welch", segment_by="arm",
                      control="a", treatment="b",
                      confidence_interval=True, confidence_level=0.99)
    r99 = compile_stattest(df, spec99, include_p=False).collect()[0]
    assert r99.ci_lo < r.ci_lo and r99.ci_hi > r.ci_hi


def test_distribution_approx_percentiles(spark):
    from raise_featurestore_spark.analytics.analysis import Distribution
    from raise_featurestore_spark.analytics.distribution import compile_distribution

    df = spark.range(0, 4000).selectExpr("CAST(id AS DOUBLE) AS v",
                                         "id % 2 AS seg")
    exact = compile_distribution(
        df, Distribution(feature="v", metrics=["percentiles"], segment_by="seg")
    ).collect()
    approx_df = compile_distribution(
        df, Distribution(feature="v", metrics=["percentiles"], segment_by="seg",
                         approx_percentiles=True),
    )
    approx = approx_df.collect()
    by_seg = {r.seg: r for r in exact}
    for r in approx:
        e = by_seg[r.seg]
        for col in ("p25", "p50", "p75", "p90", "p99"):
            assert abs(getattr(r, col) - getattr(e, col)) <= 8.0
    plan = approx_df._jdf.queryExecution().toString()
    assert "approx_percentile" in plan


def test_sampled_correlation_stable_across_partitionings(spark):
    from raise_featurestore_spark.analytics.analysis import Correlation
    from raise_featurestore_spark.analytics.correlation import compile_correlation

    df = spark.range(0, 3000).selectExpr(
        "CAST(id AS DOUBLE) AS x", "CAST(id * id % 97 AS DOUBLE) AS y"
    )
    spec = Correlation(features=["x", "y"], method="kendall", sample_size=400)
    a = compile_correlation(df, spec).collect()
    b = compile_correlation(df.repartition(13), spec).collect()
    # the hash-ordered sample picks the SAME rows under any partitioning,
    # so the tau values are identical, not merely close
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kendall_knight_kernel_matches_bruteforce():
    """Knight O(n log n) tau-b == the O(n²) sign-matrix definition,
    including tie corrections."""
    import numpy as np

    from raise_featurestore_spark.analytics.correlation import _tau_b

    def brute(x, y):
        num = sx_tot = sy_tot = 0.0
        n = len(x)
        for i in range(n):
            for j in range(i + 1, n):
                sx = np.sign(x[i] - x[j])
                sy = np.sign(y[i] - y[j])
                num += sx * sy
                sx_tot += sx != 0
                sy_tot += sy != 0
        d = np.sqrt(sx_tot * sy_tot)
        return num / d if d > 0 else float("nan")

    rng = np.random.default_rng(42)
    for _ in range(50):
        n = int(rng.integers(2, 60))
        x = rng.integers(0, 5, n).astype(float)  # heavy ties
        y = rng.integers(0, 4, n).astype(float)
        a, b = _tau_b(x, y), brute(x, y)
        assert (np.isnan(a) and np.isnan(b)) or abs(a - b) < 1e-12
    for _ in range(20):
        n = int(rng.integers(2, 150))
        x, y = rng.normal(size=n), rng.normal(size=n)
        assert abs(_tau_b(x, y) - brute(x, y)) < 1e-12


@pytest.mark.slow
def test_kendall_sample_estimates_population_tau(spark):
    """VERDICT r5 item 8: the sampled kendall is an ESTIMATE of the
    population tau; pin its deviation inside the documented U-statistic
    band (SE <= 2/sqrt(m); test at 4/sqrt(m)) against a 200k-row
    population with known tau (bivariate normal, rho=0.6 =>
    tau = 2/pi*arcsin(rho) ~ 0.410)."""
    import numpy as np

    from raise_featurestore_spark.analytics.analysis import Correlation
    from raise_featurestore_spark.analytics.correlation import (
        _tau_b,
        compile_correlation,
    )

    rng = np.random.default_rng(7)
    n, rho, m = 200_000, 0.6, 5_000
    x = rng.normal(size=n)
    y = rho * x + np.sqrt(1 - rho * rho) * rng.normal(size=n)
    tau_pop = _tau_b(x, y)  # finite-population truth via the exact kernel
    assert abs(tau_pop - 2.0 / np.pi * np.arcsin(rho)) < 0.01

    sdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    spec = Correlation(features=["x", "y"], method="kendall", sample_size=m)
    got = {
        (r.feature_a, r.feature_b): r.corr
        for r in compile_correlation(sdf, spec, round_to=None).collect()
    }
    tau_hat = got[("x", "y")]
    band = 4.0 / np.sqrt(m)  # ~0.057
    assert abs(tau_hat - tau_pop) <= band, (tau_hat, tau_pop, band)


@pytest.mark.slow
def test_kendall_two_feature_matrix_matches_knight_kernel(spark):
    """Exact tau-b of one pair (the two-feature matrix) must equal the
    O(n log n) Knight kernel BIT-EXACTLY — heavy x/y ties, multiple
    partition/bucket shapes through both the distributed decomposition
    (small_n=0) and the single-task kernel, and the degenerate edges."""
    import numpy as np

    from raise_featurestore_spark.analytics.correlation import _tau_b
    from raise_featurestore_spark.analytics.kendall_full import kendall_tau_matrix

    def tau(sdf, **kw):
        return kendall_tau_matrix(sdf, ["x", "y"], **kw).collect()[0]

    rng = np.random.default_rng(11)
    n = 20_000
    x = np.round(rng.normal(size=n) * 5, 1)           # x ties
    y = np.round(0.4 * x + rng.normal(size=n) * 2)    # integer y ties
    sdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    want = _tau_b(x, y)
    for nb, p in [(4, 3), (64, 32)]:
        for small in ({"small_n": 0}, {}):
            got = tau(sdf, round_to=None, n_buckets=nb, num_partitions=p, **small)
            assert got.corr == want, (nb, p, small, got.corr, want)
            assert got.n == n

    # degenerate edges: single row, all-x-tied (NULL tau), anticorrelated
    for small in ({"small_n": 0}, {}):
        one = tau(spark.createDataFrame([(1.0, 2.0)], "x double, y double"), **small)
        assert one.n == 1 and one.corr is None
        tied = tau(
            spark.createDataFrame([(1.0, 1.0), (1.0, 2.0)], "x double, y double"),
            **small,
        )
        assert tied.corr is None  # zero x-spread: denominator 0
        anti = tau(
            spark.createDataFrame(
                [(1.0, 4.0), (2.0, 3.0), (3.0, 2.0), (4.0, 1.0)],
                "x double, y double",
            ),
            round_to=None,
            **small,
        )
        assert anti.corr == -1.0 and anti.concordant_minus_discordant == -6


def test_local_inv_vectorized_matches_fenwick():
    """r7: the vectorized mergesort inversion kernel is a drop-in for the
    interpreted Fenwick loop — pinned equal on ties, sorted, reversed,
    constant, and random shapes."""
    import numpy as np

    from raise_featurestore_spark.analytics.kendall_full import (
        _fenwick_inversions,
        _local_inv,
    )

    def fenwick_ref(y):
        if len(y) < 2:
            return 0
        ranks = np.searchsorted(np.unique(y), y) + 1
        return _fenwick_inversions(ranks, int(ranks.max()))

    rng = np.random.default_rng(3)
    cases = [
        np.array([]), np.array([5.0]),
        np.arange(100.0), np.arange(100.0)[::-1].copy(),
        np.zeros(50), np.array([1.0, 1.0, 0.0, 2.0, 0.0]),
    ]
    for _ in range(40):
        n = int(rng.integers(2, 400))
        cases.append(rng.integers(0, 6, n).astype(float))   # heavy ties
        cases.append(rng.normal(size=n))
    for y in cases:
        assert _local_inv(y) == fenwick_ref(y), y[:10]
    # non-power-of-two lengths exercise the ragged final merge blocks
    for n in (3, 5, 17, 31, 33, 255, 257, 1000):
        y = rng.normal(size=n)
        assert _local_inv(y) == fenwick_ref(y)


@pytest.mark.slow
def test_kendall_matrix_matches_knight_and_amortizes_shuffles(spark, monkeypatch):
    """r6 VERDICT item 4: the exact-Kendall MATRIX computes every pair from
    ONE data-scale range exchange (not one per pair) and matches the Knight
    kernel bit-exactly per pair."""
    import numpy as np
    from pyspark.sql import DataFrame

    from raise_featurestore_spark.analytics.correlation import _tau_b
    from raise_featurestore_spark.analytics.kendall_full import kendall_tau_matrix

    rng = np.random.default_rng(9)
    n = 4000
    a = np.round(rng.normal(size=n) * 5, 1)
    b = np.round(0.4 * a + rng.normal(size=n) * 2)
    c = rng.integers(0, 8, n).astype(float)
    d = rng.normal(size=n)
    sdf = spark.createDataFrame(
        [tuple(map(float, t)) for t in zip(a, b, c, d)],
        "a double, b double, c double, d double",
    )

    calls = []
    cls = type(sdf)  # pyspark 4: the classic impl class, not the ABC
    orig = cls.repartitionByRange

    def counting(self, *args, **kwargs):
        calls.append(args)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "repartitionByRange", counting)

    arrs = {"a": a, "b": b, "c": c, "d": d}
    for feats in (["a", "b", "c"], ["a", "b", "c", "d"]):
        calls.clear()
        # small_n=0 forces the distributed decomposition (n=4000 would
        # otherwise take the single-pass fast path) — this test pins the
        # scale path's plan shape and values
        got = {
            (r.feature_a, r.feature_b): r.corr
            for r in kendall_tau_matrix(
                sdf, feats, round_to=None, small_n=0
            ).collect()
        }
        assert len(got) == len(feats) * (len(feats) - 1) // 2
        for (fa, fb), tau in got.items():
            assert tau == _tau_b(arrs[fa], arrs[fb]), (fa, fb)
        # exactly TWO range exchanges regardless of pair count: the
        # replicated data frame (the one data-scale shuffle) + the prefix
        # kernel over per-feature DISTINCT values (metadata scale)
        assert len(calls) == 2, calls
        # the small-n fast path (default at n=4000) must be BIT-identical
        # to the distributed decomposition — same tie terms, same
        # y-inversion definition, shared assembly (VERDICT r9 item 5)
        calls.clear()
        fast = {
            (r.feature_a, r.feature_b): (r.n, r.concordant_minus_discordant, r.corr)
            for r in kendall_tau_matrix(sdf, feats, round_to=None).collect()
        }
        assert len(calls) == 0, "fast path must not range-exchange"
        for (fa, fb), (fn, fcmd, ftau) in fast.items():
            assert ftau == got[(fa, fb)], (fa, fb)


def test_kendall_matrix_listwise_nulls_and_nan(spark):
    """Matrix semantics are LISTWISE: a row bad in any feature drops from
    every pair, so every pair reports the same n."""
    from raise_featurestore_spark.analytics.kendall_full import kendall_tau_matrix

    rows = [
        (1.0, 2.0, 3.0),
        (2.0, 1.0, None),          # null in c -> dropped everywhere
        (3.0, float("nan"), 1.0),  # NaN in b -> dropped everywhere
        (4.0, 4.0, 2.0),
        (5.0, 3.0, 0.0),
    ]
    sdf = spark.createDataFrame(rows, "a double, b double, c double")
    out = kendall_tau_matrix(sdf, ["a", "b", "c"]).collect()
    assert {r.n for r in out} == {3}
    got = {(r.feature_a, r.feature_b): r.corr for r in out}
    assert got[("a", "c")] == -1.0  # (1,3),(4,2),(5,0) strictly discordant


def test_correlation_spec_exact_kendall(spark):
    """Correlation(method='kendall', exact=True) routes to the distributed
    exact matrix (diagonal + every pair), matches the Knight kernel, and
    its DuckDB twin agrees value-for-value."""
    import duckdb
    import numpy as np
    import pytest as _pt

    from raise_featurestore_spark.analytics.analysis import (
        AnalysisSpecError,
        Correlation,
    )
    from raise_featurestore_spark.analytics.correlation import (
        _tau_b,
        compile_correlation,
        correlation_to_sql,
    )

    rng = np.random.default_rng(21)
    n = 3000
    x = np.round(rng.normal(size=n) * 3, 1)
    y = np.round(0.5 * x + rng.normal(size=n), 1)
    z = rng.integers(0, 5, n).astype(float)
    rows = [tuple(map(float, t)) for t in zip(x, y, z)]
    sdf = spark.createDataFrame(rows, "x double, y double, z double")
    spec = Correlation(features=["x", "y", "z"], method="kendall", exact=True)
    got = {
        (r.feature_a, r.feature_b): r.corr
        for r in compile_correlation(sdf, spec, round_to=None).collect()
    }
    assert got[("x", "x")] == got[("y", "y")] == got[("z", "z")] == 1.0
    arrs = {"x": x, "y": y, "z": z}
    for a, b in [("x", "y"), ("x", "z"), ("y", "z")]:
        assert got[(a, b)] == _tau_b(arrs[a], arrs[b]), (a, b)

    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE, y DOUBLE, z DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {
        (r[0], r[1]): r[2]
        for r in con.sql(correlation_to_sql(spec, "t", round_to=4)).fetchall()
    }
    got4 = {
        (r.feature_a, r.feature_b): r.corr
        for r in compile_correlation(sdf, spec, round_to=4).collect()
    }
    assert want == got4

    # spec validation: pearson is exact by construction (exact=True is a
    # spec error); spearman accepts it since r10 (routes to the row-rank
    # kernel); kendall exact=True is full-population, so no sample cap
    with _pt.raises(AnalysisSpecError):
        Correlation(features=["x", "y"], method="pearson", exact=True)
    Correlation(features=["x", "y"], method="spearman", exact=True)  # valid
    with _pt.raises(AnalysisSpecError):
        Correlation(features=["x", "y"], method="kendall", exact=True,
                    sample_size=100)


def test_sliced_wasserstein_embedding_drift(spark):
    """Embedding drift via sliced W1: zero for identical slices, positive
    and shift-proportional for a mean-shifted slice, bit-equal to the
    DuckDB twin."""
    import duckdb
    import numpy as np

    from raise_featurestore_spark.analytics.drift import (
        sliced_wasserstein_drift,
        sliced_wasserstein_drift_sql,
    )

    rng = np.random.default_rng(8)
    dim, n = 16, 2000
    base = rng.normal(size=(n, dim)).astype(np.float32)
    shifted = base + 0.5  # constant mean shift in every dimension
    rows = [(i, [float(v) for v in base[i]]) for i in range(n)] + [
        (n + i, [float(v) for v in shifted[i]]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bf, cf = f"vec_id < {n}", f"vec_id >= {n}"
    got = {
        r.slice: r.wasserstein
        for r in sliced_wasserstein_drift(
            df, "embedding", bf, cf, dim=dim, n_slices=4, bins=40
        ).collect()
    }
    # a 0.5-shift on every dim projects to |sum(±0.5)| per plane; every
    # slice must register clearly positive drift
    assert all(v > 0.1 for v in got.values()), got

    con = duckdb.connect()
    con.execute("CREATE TABLE embs(vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embs VALUES (?, ?)", rows)
    want = {
        r[0]: r[1]
        for r in con.sql(
            sliced_wasserstein_drift_sql(
                "embs", "embedding", bf, cf, dim=dim, n_slices=4, bins=40
            )
        ).fetchall()
    }
    assert want == got

    # identical slices -> exactly zero on every slice
    same = sliced_wasserstein_drift(
        df, "embedding", "vec_id >= 0", "vec_id >= 0", dim=dim, n_slices=3
    ).collect()
    assert all(r.wasserstein == 0.0 for r in same)


def test_kendall_matrix_degenerate_edges(spark):
    """Matrix edges: empty input, single row, an all-tied feature (NULL
    tau for its pairs, real tau for the others)."""
    import math

    from raise_featurestore_spark.analytics.kendall_full import kendall_tau_matrix

    empty = spark.createDataFrame([], "a double, b double, c double")
    out = kendall_tau_matrix(empty, ["a", "b", "c"]).collect()
    assert len(out) == 3 and all(r.n == 0 and r.corr is None for r in out)

    one = kendall_tau_matrix(
        spark.createDataFrame([(1.0, 2.0, 3.0)], "a double, b double, c double"),
        ["a", "b"],
    ).collect()
    assert one[0].n == 1 and one[0].corr is None

    rows = [(1.0, 4.0, 7.0), (1.0, 3.0, 8.0), (1.0, 2.0, 9.0)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {
        (r.feature_a, r.feature_b): r.corr
        for r in kendall_tau_matrix(df, ["a", "b", "c"]).collect()
    }
    assert got[("a", "b")] is None and got[("a", "c")] is None  # a all-tied
    assert got[("b", "c")] == -1.0  # strictly anticorrelated

    import pytest as _pt

    with _pt.raises(ValueError):
        kendall_tau_matrix(df, ["a"])


def test_local_inv_hypothesis_property():
    """Property fuzz: the vectorized inversion kernel equals the O(n²)
    definition on arbitrary short float sequences (ties, negatives,
    duplicates, constant runs — hypothesis explores the corners the
    fixed-seed differential misses)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from raise_featurestore_spark.analytics.kendall_full import _local_inv

    def brute(y):
        return sum(
            1
            for i in range(len(y))
            for j in range(i + 1, len(y))
            if y[i] > y[j]
        )

    @given(
        st.lists(
            st.one_of(
                st.integers(min_value=-5, max_value=5).map(float),
                st.floats(
                    allow_nan=False, allow_infinity=False, width=32,
                    min_value=-1e6, max_value=1e6,
                ),
            ),
            max_size=120,
        )
    )
    @settings(max_examples=300, deadline=None)
    def check(ys):
        y = np.array(ys, dtype=float)
        assert _local_inv(y) == brute(ys)

    check()


def test_embedding_mean_drift_mmd_linear(spark):
    """Linear-kernel MMD² semantics: exactly the squared distance between
    mean embeddings — a pure mean shift registers it exactly; a pure
    variance change registers zero (the documented blind spot sliced-W
    covers)."""
    import numpy as np

    from raise_featurestore_spark.analytics.drift import embedding_mean_drift

    rng = np.random.default_rng(14)
    dim, n = 8, 500
    base = rng.normal(size=(n, dim))
    shift = 0.25
    rows = [(i, [float(v) for v in base[i]]) for i in range(n)] + [
        (n + i, [float(v) for v in base[i] + shift]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_mean_drift(
        df, "embedding", f"vec_id < {n}", f"vec_id >= {n}", dim=dim,
        round_to=None,
    ).collect()[0]
    assert got.n_baseline == n and got.n_current == n
    # identical samples offset by +0.25 per dim: mmd² == dim·shift² exactly
    # (means differ by exactly the shift; the decimal grid holds 0.25)
    assert abs(got.mmd_sq - dim * shift * shift) < 1e-6, got.mmd_sq

    # sign-flipped current slice: means negate, so mmd² == ||2·mean_b||²
    # — a SHAPE change beyond the mean moves the metric only through the
    # mean (the documented linear-kernel contract)
    rows2 = [(i, [float(v) for v in base[i]]) for i in range(n)] + [
        (n + i, [float(v) for v in base[i] * -1.0]) for i in range(n)
    ]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<float>")
    got2 = embedding_mean_drift(
        df2, "embedding", f"vec_id < {n}", f"vec_id >= {n}", dim=dim,
        round_to=None,
    ).collect()[0]
    want = 4.0 * float((base.mean(axis=0) ** 2).sum())
    assert abs(got2.mmd_sq - want) < 1e-4, (got2.mmd_sq, want)


def test_embedding_mean_drift_near_zero_regime(spark):
    """ADVICE r7 (medium): near-identical slices must read ~0, not NaN.
    Large-n no-drift means differ by ~sigma*sqrt(2/n), so MOST per-dim
    squared diffs sit below the 1e-10 grid's half step — legitimately ~0,
    and the underflow sentinel must NOT fire on the final diff² sum
    (it still guards the raw mean accumulation)."""
    import math

    import numpy as np

    from raise_featurestore_spark.analytics.drift import embedding_mean_drift

    rng = np.random.default_rng(7)
    dim, n = 8, 2000
    base = rng.normal(size=(n, dim))
    # current slice = baseline + per-element noise of ~1e-6: per-dim mean
    # diffs ~1e-6/sqrt(n), squares ~5e-16 — all far below the 5e-11 half
    # step, the exact regime the r7 sentinel mis-poisoned.
    cur = base + rng.normal(scale=1e-6, size=(n, dim))
    rows = [(i, [float(v) for v in base[i]]) for i in range(n)] + [
        (n + i, [float(v) for v in cur[i]]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_mean_drift(
        df, "embedding", f"vec_id < {n}", f"vec_id >= {n}", dim=dim,
        round_to=None,
    ).collect()[0]
    assert not math.isnan(got.mmd_sq), "no-drift regime must not poison"
    assert 0.0 <= got.mmd_sq < 1e-8, got.mmd_sq

    # byte-identical slices: exactly 0.0
    df0 = spark.createDataFrame(
        rows[:n] + [(n + i, r) for i, (_, r) in enumerate(rows[:n])],
        "vec_id long, embedding array<float>",
    )
    got0 = embedding_mean_drift(
        df0, "embedding", f"vec_id < {n}", f"vec_id >= {n}", dim=dim,
        round_to=None,
    ).collect()[0]
    assert got0.mmd_sq == 0.0, got0.mmd_sq


def test_embedding_rff_mmd_detects_variance_only_shift(spark):
    """r7 VERDICT item 5 done-criterion: a variance-only shift (same
    mean, 2x spread) must register on the RFF RBF-MMD while the
    linear-kernel MMD reads ~0 (its documented blind spot)."""
    import numpy as np

    from raise_featurestore_spark.analytics.drift import (
        embedding_mean_drift,
        embedding_rff_mmd_drift,
    )

    rng = np.random.default_rng(5)
    dim, n = 8, 1500
    base = rng.normal(scale=0.5, size=(n, dim))
    cur = rng.normal(scale=1.0, size=(n, dim))  # same mean 0, 2x spread
    rows = [(i, [float(v) for v in base[i]]) for i in range(n)] + [
        (n + i, [float(v) for v in cur[i]]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    args = dict(
        emb_col="embedding",
        baseline_filter=f"vec_id < {n}",
        current_filter=f"vec_id >= {n}",
        dim=dim,
    )
    lin = embedding_mean_drift(df, **args, round_to=None).collect()[0].mmd_sq
    rff = embedding_rff_mmd_drift(df, **args, round_to=None).collect()[0].mmd_sq
    # linear MMD: sample means differ by ~sigma*sqrt(2/n) per dim -> tiny
    assert lin < 5e-3, lin
    # RFF MMD: E[cos(w.x+b)] scales by exp(-sigma^2 |w|^2 / 2) -> large
    assert rff > 0.01, rff
    assert rff > 20 * lin, (rff, lin)

    # and NO-drift still reads ~0 on the RFF path (underflow-guard-free
    # final sum, same contract as the linear MMD)
    import math

    same = [(i, [float(v) for v in base[i]]) for i in range(n)] + [
        (n + i, [float(v) for v in base[i]]) for i in range(n)
    ]
    df0 = spark.createDataFrame(same, "vec_id long, embedding array<float>")
    z = embedding_rff_mmd_drift(df0, **args, round_to=None).collect()[0].mmd_sq
    assert not math.isnan(z) and z == 0.0, z


@pytest.mark.parametrize("case", ["constant", "all_null", "empty"])
def test_dual_matrix_equals_per_method_matrices(spark, case):
    """correlation_matrix_dual's pearson and spearman rows equal
    compile_correlation's pearson and spearman-default matrices after
    the round-4 snap, on a frame with a constant feature, one with an
    all-NULL feature and an empty one."""
    from raise_featurestore_spark.analytics.analysis import Correlation
    from raise_featurestore_spark.analytics.correlation import (
        compile_correlation,
        correlation_matrix_dual,
    )

    rows = [
        (float(i), float((i * 37) % 101) / 7.0, 3.0 if case == "constant" else None)
        for i in range(200 if case != "empty" else 0)
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    feats = ["a", "b", "c"]
    dual = {}
    for r in correlation_matrix_dual(df, feats).collect():
        dual.setdefault(r.method, {})[(r.feature_a, r.feature_b)] = r.corr
    for method in ("pearson", "spearman"):
        want = {
            (r.feature_a, r.feature_b): r.corr
            for r in compile_correlation(df, Correlation(features=feats, method=method)).collect()
        }
        assert dual[method] == want, method
    if case == "constant":
        assert dual["pearson"][("a", "b")] is not None
        assert dual["pearson"][("a", "c")] is None
        assert dual["spearman"][("b", "c")] is None


def test_spearman_grid_equals_exact_on_grid_aligned_data(spark):
    """The grid-snapped spearman (the engine default) differs from the
    exact row-rank kernel ONLY through the sig-digit snap: on data already
    on the grid (integers < 10^sig_digits) the snap is the identity, so
    the two paths must agree bit-for-bit — including under heavy ties."""
    import numpy as np

    from raise_featurestore_spark.analytics.analysis import Correlation
    from raise_featurestore_spark.analytics.correlation import compile_correlation

    rng = np.random.default_rng(31)
    a = rng.integers(0, 900, 3000).astype(float)
    b = np.floor(0.5 * a + rng.integers(0, 200, 3000))
    c = rng.integers(0, 5, 3000).astype(float)  # heavy ties
    k = np.full(3000, 7.0)  # constant: zero rank variance -> NULL corr
    sdf = spark.createDataFrame(
        [tuple(map(float, t)) for t in zip(a, b, c, k)],
        "a double, b double, c double, k double",
    )
    feats = ["a", "b", "c", "k"]
    grid = {
        (r.feature_a, r.feature_b): r.corr
        for r in compile_correlation(
            sdf, Correlation(features=feats, method="spearman")
        ).collect()
    }
    exact = {
        (r.feature_a, r.feature_b): r.corr
        for r in compile_correlation(
            sdf, Correlation(features=feats, method="spearman", exact=True)
        ).collect()
    }
    assert grid == exact and len(grid) == 10  # 4 diagonal + 6 pairs
    assert grid[("a", "k")] is None  # constant feature degrades to NULL
