"""Distributed prefix sums must equal the single-partition window exactly."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.prefix import range_prefix_sums


def test_range_prefix_sums_matches_global_window(spark):
    rng = random.Random(7)
    rows = [(float(v), rng.randint(1, 5), rng.randint(0, 3)) for v in rng.sample(range(10000), 500)]
    df = spark.createDataFrame(rows, "x double, a long, b long")

    got = {
        r["x"]: (r["ca"], r["cb"])
        for r in range_prefix_sums(df, "x", {"ca": "a", "cb": "b"}, num_partitions=7).collect()
    }
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["x"]: (r["ca"], r["cb"])
        for r in df.select("x", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")).collect()
    }
    assert got == want


def test_range_prefix_sums_more_partitions_than_rows(spark):
    df = spark.createDataFrame([(1.0, 2), (2.0, 3)], "x double, a long")
    got = sorted(
        (r["x"], r["c"]) for r in range_prefix_sums(df, "x", {"c": "a"}, num_partitions=16).collect()
    )
    assert got == [(1.0, 2), (2.0, 5)]


def test_prefix_sums_consistent_at_partial_sample_scale(spark):
    """Regression: the local-sums and totals branches both read the range
    -shuffled frame; before the persist() pin, the optimizer could plant
    two independent range exchanges whose per-RDD-seeded bound samples
    disagreed — partition i's local sums got stitched to a DIFFERENT
    partition i's offset, silently corrupting ~95% of running totals at
    50k rows (invisible at oracle scale, where the bound sample is
    exhaustive). Verify against an exact driver-side prefix sum, twice."""
    n = 50_000
    df = spark.range(n).select(
        F.col("id"),
        # non-monotone order key exercises real range boundaries
        ((F.col("id") * 2654435761) % 1_000_003).alias("k"),
        (F.col("id") % 97 + 1).alias("w"),
    ).repartition(32)
    rows = df.collect()
    cum, want = 0, {}
    for r in sorted(rows, key=lambda r: r.k):  # k is unique mod 1e6+3 for n=50k
        cum += r.w
        want[r.id] = cum
    assert len(want) == n  # key uniqueness precondition
    for _ in range(2):
        got = {
            r.id: r.cw
            for r in range_prefix_sums(df, "k", {"cw": "w"}).collect()
        }
        assert got == want


def test_grouped_range_avg_ranks_matches_pandas(spark):
    """r9 row-level rank kernel: per-row average-of-ties ranks with NO
    value-level join-back must equal pandas rank(method='average') per
    group, including heavy ties and group boundaries."""
    import numpy as np
    import pandas as pd

    from raise_featurestore_spark.functions.prefix import grouped_range_avg_ranks

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c"], size=20000),
            "v": np.round(rng.normal(size=20000) * 10, 0),  # heavy ties
            "rid": np.arange(20000),
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        grouped_range_avg_ranks(df, ["g"], "v")
        .select("rid", "__rk")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    want = pdf.assign(rk=pdf.groupby("g")["v"].rank(method="average")).sort_values(
        "rid"
    )
    assert np.allclose(got["__rk"].to_numpy(), want["rk"].to_numpy(), atol=0)

    # few-partition grid shakes the cross-partition offsets
    got2 = (
        grouped_range_avg_ranks(df, ["g"], "v", num_partitions=3)
        .select("rid", "__rk")
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    assert np.allclose(got2["__rk"].to_numpy(), want["rk"].to_numpy(), atol=0)
