"""1M-row differential for the distributed exact Kendall tau-b matrix.

Ground truth is the Knight O(n log n) kernel (`correlation._tau_b`) on the
same driver-collected arrays — exact, so the distributed 3-term inversion
decomposition must agree BIT-FOR-BIT, not within a band. One pair is the
two-feature matrix; 3- and 10-feature matrices follow. Heavy ties in
both columns exercise every tie term; the partition/bucket grid shakes the
decomposition's boundary cases at a scale where an off-by-one across a
range boundary is ~certain to surface.

Usage: python scripts/stress_kendall.py [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(n: int = 1_000_000) -> None:
    from raise_featurestore_spark.analytics.correlation import _tau_b
    from raise_featurestore_spark.analytics.kendall_full import kendall_tau_matrix
    from raise_featurestore_spark.session import get_spark

    spark = get_spark("stress-kendall")
    rng = np.random.default_rng(17)
    x = np.round(rng.normal(size=n) * 40, 1)          # ~800 distinct, heavy ties
    y = np.round(0.55 * x + rng.normal(size=n) * 25)  # integer ties
    t0 = time.perf_counter()
    want = _tau_b(x, y)
    t_knight = time.perf_counter() - t0
    sdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    ).cache()
    sdf.count()
    for nb, p in [(64, None), (16, 8)]:
        t0 = time.perf_counter()
        got = kendall_tau_matrix(
            sdf, ["x", "y"], round_to=None, n_buckets=nb, num_partitions=p
        ).collect()[0]
        dt = time.perf_counter() - t0
        status = "MATCH" if got.corr == want else "MISMATCH"
        print(
            f"kendall_matrix(2 features, buckets={nb}, parts={p}): {status} "
            f"tau={got.corr!r} (knight {want!r}) n={got.n} spark={dt:.1f}s "
            f"knight={t_knight:.1f}s"
        )
        assert got.corr == want, (got.corr, want)

    # 3 features at the same scale: every pair bit-equal to the Knight
    # kernel, all from ONE data-scale range exchange
    z = np.round(0.3 * y + rng.normal(size=n) * 10, 0)
    sdf3 = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        "x double, y double, z double",
    ).cache()
    sdf3.count()
    arrs = {"x": x, "y": y, "z": z}
    t0 = time.perf_counter()
    got_m = {
        (r.feature_a, r.feature_b): r.corr
        for r in kendall_tau_matrix(sdf3, ["x", "y", "z"], round_to=None).collect()
    }
    dt = time.perf_counter() - t0
    for (fa, fb), tau in got_m.items():
        w = _tau_b(arrs[fa], arrs[fb])
        assert tau == w, (fa, fb, tau, w)
    print(f"kendall_matrix(3 features, {len(got_m)} pairs): MATCH spark={dt:.1f}s")

    # the PRD-shaped WIDE matrix at the same scale: k=10 features
    # (45 pairs), proving the dense-pid driver cost stays linear in
    # pairs and measuring the raise_/PRD.md:2754 "<10 s for a 10-feature
    # matrix" target at 1M rows. Every pair bit-equal to Knight.
    k = 10
    cols = {"f0": x, "f1": y, "f2": z}
    for i in range(3, k):
        cols[f"f{i}"] = np.round(
            0.2 * x + 0.1 * cols[f"f{i - 1}"] + rng.normal(size=n) * (5 + i), 1
        )
    names = list(cols)
    sdf10 = spark.createDataFrame(
        list(zip(*(map(float, cols[c]) for c in names))),
        ", ".join(f"{c} double" for c in names),
    ).cache()
    sdf10.count()
    t0 = time.perf_counter()
    got_w = {
        (r.feature_a, r.feature_b): r.corr
        for r in kendall_tau_matrix(sdf10, names, round_to=None).collect()
    }
    dt10 = time.perf_counter() - t0
    assert len(got_w) == k * (k - 1) // 2, len(got_w)
    for (fa, fb), tau in got_w.items():
        w = _tau_b(cols[fa], cols[fb])
        assert tau == w, (fa, fb, tau, w)
    print(
        f"kendall_matrix({k} features, {len(got_w)} pairs): MATCH "
        f"spark={dt10:.1f}s (PRD 10-feature target < 10 s; 3-pair run {dt:.1f}s "
        f"-> per-pair driver cost {'linear' if dt10 < dt * 15 * 1.5 else 'SUPERLINEAR'})"
    )
    print(f"1M-row exact-kendall differential: bit-identical (n={n})")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000)
