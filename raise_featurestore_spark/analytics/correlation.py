"""Correlation compiler: N×N matrix in long form (feature_a, feature_b, corr).

(reference: raise_/analytics/analysis.py:152-195; numpy/scipy semantics
raise_/PRD.md:1016-1028)

Scale design:
- **pearson** is a single aggregate pass: all N(N-1)/2 pairwise ``corr(x,y)``
  expressions in one ``agg`` → one scan, partial+final hash aggregation, no
  shuffle of raw rows beyond the 1-row result. The long-form pivot runs on
  that 1-row frame (driver-cheap ``stack``).
- **spearman** = pearson over average ranks. Ranks are computed per feature
  from the distinct-value frame with a distributed range-partitioned prefix
  sum (``functions/prefix.py``) and joined back — exact, and no
  single-partition global-sort window even on continuous features.
  ``sample_size`` (reference analysis.py:176) remains available to bound
  cost further. Tie handling is the standard average-rank
  ``rank + (ties-1)/2``. That is ``exact=True``; the default ranks on the
  sig grid (:func:`_grid_corr_matrix`), the kernel the fused wide
  pearson+spearman matrix (:func:`correlation_matrix_dual`) shares.
- **kendall** (tau-b) has no single-aggregate closed form. Both routes
  run ``analytics/kendall_full.py``: ``exact=True`` is the distributed
  :func:`kendall_tau_matrix` over every row, and the default runs its
  single-task kernel (:func:`kendall_tau_single_task`) on a bounded
  sample — the TakeOrdered prefix of a salted content hash, a uniform
  pseudo-random draw, so the estimate carries the U-statistic error bound
  below. ``_tau_b`` here is the Fenwick reference kernel both are tested
  against.

Sampled-kendall error bound (vs the full-data population tau): tau-b over
a uniform random sample of size m is a two-sample U-statistic with kernel
bounded in [−1, 1], so Hoeffding's inequality for U-statistics gives
``P(|τ̂ − τ| ≥ t) ≤ 2·exp(−⌊m/2⌋·t²/2)`` and a distribution-free standard
error ``SE(τ̂) ≤ 2/√m`` — ±0.009 at the 50k cap, ±0.028 at m = 5 000.
(Heavy ties only shrink the effective variance.) tests/test_stats.py pins
a 4/√m band against a 200k-row population with known tau.

``correlation_to_sql`` is the DuckDB oracle for every spec, routed the
same way.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raise_featurestore_spark.analytics.analysis import Correlation
from raise_featurestore_spark.functions.conf_scope import scoped_persist
from raise_featurestore_spark.functions.stable import grid_snap, grid_snap_sql

DEFAULT_ROUND = 4
# significant digits of the grid-snapped spearman (functions/stable
# sig_round): ~900 mantissa cells per decade bound every rank map
GRID_SIG_DIGITS = 3
# row cap for the single-task kendall kernel (O(n log n) per pair, ~0.3 s
# at the cap)
KENDALL_MAX_SAMPLE = 50_000


def _pair_alias(i: int, j: int) -> str:
    return f"__c_{i}_{j}"


def _prepare(df: DataFrame, spec: Correlation, seed: int) -> DataFrame:
    if spec.filter:
        df = df.where(F.expr(spec.filter))
    df = df.select(*spec.features).na.drop(subset=spec.features)
    if spec.sample_size:
        # count-bounded deterministic sample: order by a salted content
        # hash → TakeOrdered heap (no full sort), SAME rows on any
        # partitioning / cluster topology — unlike rand(seed), whose values
        # depend on partition layout.
        from raise_featurestore_spark.dataprep import hashing as H

        key = H.h32(
            F.concat_ws("|", F.lit(str(seed)), *[F.col(f).cast("string") for f in spec.features])
        )
        df = df.orderBy(key, *spec.features).limit(spec.sample_size)
    return df


def _rank_cols(df: DataFrame, features: list[str]) -> DataFrame:
    """Replace each feature with its average rank (spearman prep).

    Scale-safe: melt all features to long form (one scan), group to distinct
    (feature, value) with tie counts, then ONE grouped range-partitioned
    rank pass attaches every feature's per-row average rank — no
    ``rank() OVER (ORDER BY x)`` single-partition sort, and one range
    shuffle total instead of one per feature.

    Shape: melt → ``grouped_range_avg_ranks`` (ONE range shuffle of
    the k·n melted rows, ranks attached in-row — no value-level join
    back) → ONE pivot aggregate keyed by a row id assigned at a single
    projection node BEFORE the melt (so every exploded row of one input
    row carries the same id). A per-feature join-back costs k sequential
    data-scale shuffles (26 s vs ~8 s for the k=10 PRD matrix at sf0.1)."""
    from raise_featurestore_spark.functions.prefix import grouped_range_avg_ranks

    n = len(features)
    df = df.withColumn("__rid", F.monotonically_increasing_id())
    stack_expr = ", ".join(f"'{ft}', CAST({ft} AS DOUBLE)" for ft in features)
    melted = df.selectExpr("__rid", f"stack({n}, {stack_expr}) AS (__ft, __val)")
    ranked = grouped_range_avg_ranks(melted, ["__ft"], "__val")
    # EXPLICIT repartition by row id before the pivot, for two reasons:
    # (1) partial aggregation buys nothing here — a row's k melted rows
    # are scattered across the (__ft, __val) range partitions, so the
    # "partial" pivot emits ≈ one k-wide row per input row; (2) AQE
    # coalesces the groupBy's own exchange to ONE partition (the pivot
    # shuffle is ~50 MB < the 64 MB advisory) and then runs the
    # CPU-heavy pivot + downstream corr partials in a single task
    # (measured: a 17 s straggler). A user repartition is never
    # coalesced, and the agg's clustering requirement is satisfied by
    # it, so the pivot runs wide with no extra exchange.
    nparts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pivoted = (
        ranked.repartition(nparts, "__rid")
        .groupBy("__rid")
        .agg(
            *[
                F.max(F.when(F.col("__ft") == ft, F.col("__rk"))).alias(ft)
                for ft in features
            ]
        )
    )
    return pivoted.select(*features)


def _feature_bounds(df: DataFrame, feats: list[str]) -> DataFrame:
    """1-row min/max per feature — the engine's two-pass bounds pattern
    (histograms/drift/outliers), here as the ANSI degenerate-pair guard."""
    return df.agg(
        *[F.min(F.col(f).cast("double")).alias(f"__mn_{i}") for i, f in enumerate(feats)],
        *[F.max(F.col(f).cast("double")).alias(f"__mx_{i}") for i, f in enumerate(feats)],
    )


def _null_constant_features(
    df: DataFrame, feats: list[str], bounds: DataFrame
) -> DataFrame:
    """NULL out features that are CONSTANT on the (listwise-cleaned)
    frame before the corr aggregate. Spark 4 runs ANSI mode by default
    and ``Corr.evaluateExpression`` divides by the variance — a constant
    feature (one distinct value after a slice filter; also n = 1) is a
    hard DIVIDE_BY_ZERO job failure instead of the NULL every other
    engine (and this engine's own DuckDB twins) produce. Feeding the
    aggregate an all-NULL column makes its pair count n = 0, which Corr
    short-circuits to NULL with no division — so degeneracy degrades to
    the oracle's NULL while HEALTHY features stream the exact same
    doubles through the exact same F.corr (the hash-parity-preserving
    property a regr_sxy/sxx/syy reimplementation measurably lacks: ulp
    drift in the separate co-moment buffers). min == max detects zero
    variance exactly on NaN-dropped input (IEEE: -0.0 == 0.0, matching
    variance 0). Constancy is invariant under ranking, so the exact
    spearman path computes bounds on the RAW features and applies the
    guard to the ranked frame. Cost: one extra column-pruned min/max
    scan + a 1-row broadcast (the allowlisted bounds-BNLJ shape)."""
    guarded = df.crossJoin(F.broadcast(bounds))
    return guarded.select(
        *[
            F.when(
                F.col(f"__mn_{i}").isNull()
                | (F.col(f"__mn_{i}") == F.col(f"__mx_{i}")),
                F.lit(None).cast("double"),
            )
            .otherwise(F.col(f).cast("double"))
            .alias(f)
            for i, f in enumerate(feats)
        ]
    )


def _matrix_rows(feats: list[str], cell, method: str | None = None) -> list[str]:
    """``stack`` items of one long-form matrix: the 1.0 diagonal, then
    ``cell(i, j)`` for every pair i < j, each led by ``method`` if given."""
    tag = f"'{method}', " if method else ""
    return [f"{tag}'{ft}', '{ft}', CAST(1.0 AS DOUBLE)" for ft in feats] + [
        f"{tag}'{feats[i]}', '{feats[j]}', {cell(i, j)}"
        for i, j in combinations(range(len(feats)), 2)
    ]


def _unpivot(
    one_row: DataFrame, rows: list[str], round_to: int | None, with_method: bool = False
) -> DataFrame:
    """The long form of a 1-row cell frame: one ``stack`` of ``rows``
    (see :func:`_matrix_rows`), then the emission-grid snap."""
    cols = ("method, " if with_method else "") + "feature_a, feature_b, corr"
    out = one_row.selectExpr(f"stack({len(rows)}, {', '.join(rows)}) AS ({cols})")
    if round_to is not None:
        # + 0.0 canonicalizes IEEE −0.0 after rounding (a correlation in
        # (−5e-5, 0) would otherwise hash as "-0" on one engine only)
        out = out.withColumn("corr", grid_snap(F.col("corr"), round_to) + F.lit(0.0))
    return out


def compile_correlation(
    df: DataFrame, spec: Correlation, round_to: int | None = DEFAULT_ROUND, seed: int = 42
) -> DataFrame:
    """Compile a :class:`Correlation` spec to its matrix DataFrame.

    NOT always lazy: the default spearman route
    (``method='spearman'``, ``exact=False``) is the grid-snapped
    approximation, whose plan embeds driver-collected rank maps —
    building it runs Spark jobs at COMPILE time (the cache fill and the
    rank-map collect, :func:`_grid_corr_matrix`). Plan-only / dry-run
    callers that must not touch data should pass ``exact=True`` or
    inspect the spec without compiling.
    """
    df = _prepare(df, spec, seed)
    feats = spec.features

    if spec.method == "kendall":
        # exact: the full-population matrix (analytics/kendall_full.py);
        # sampled: its lazy single-task kernel over at most
        # KENDALL_MAX_SAMPLE rows, with the U-statistic bound of the module
        # docstring. Diagonal rows appended to match this compiler's
        # (feature_a, feature_b, corr) shape.
        from raise_featurestore_spark.analytics.kendall_full import (
            kendall_tau_matrix,
            kendall_tau_single_task,
            literal_rows,
        )

        if spec.exact:
            m = kendall_tau_matrix(df, feats, round_to=round_to)
        else:
            m = kendall_tau_single_task(
                df.limit(KENDALL_MAX_SAMPLE), feats, round_to=round_to
            )
        diag = literal_rows(
            df.sparkSession,
            [(f, f, 1.0) for f in feats],
            "feature_a string, feature_b string, corr double",
        )
        return diag.unionByName(m.select("feature_a", "feature_b", "corr"))

    if spec.method == "spearman":
        if not spec.exact:
            # default = the grid-snapped matrix (the 100 TB path): rank
            # maps are GRID-bounded and collected once, zero row-scale
            # shuffles — same posture as the approx twins being the
            # aggregation default (HLL/GK) with exactness an opt-in.
            # exact=True keeps the row-level average-rank kernel
            # (near-ties half a grid step apart stay distinct ranks).
            # Brings the PRD 10-feature matrix target (< 10 s,
            # raise_/PRD.md:2754) inside warm at sf0.1.
            return _grid_corr_matrix(df, feats, round_to, pearson=False)
        bounds = _feature_bounds(df, feats)
        df = _rank_cols(df, feats)
        df = _null_constant_features(df, feats, bounds)
    else:
        df = _null_constant_features(df, feats, _feature_bounds(df, feats))

    one_row = df.agg(
        *[
            F.corr(F.col(feats[i]).cast("double"), F.col(feats[j]).cast("double"))
            .alias(_pair_alias(i, j))
            for i, j in combinations(range(len(feats)), 2)
        ]
    )
    return _unpivot(one_row, _matrix_rows(feats, _pair_alias), round_to)


def _diagonal_sql(feats: list[str]) -> list[str]:
    """One SELECT per diagonal row (corr 1.0 by definition)."""
    return [
        f"SELECT '{ft}' AS feature_a, '{ft}' AS feature_b, CAST(1.0 AS DOUBLE) AS corr "
        "FROM (SELECT 1) __d"
        for ft in feats
    ]


def _kendall_sampled_sql(
    spec: Correlation, table: str, round_to: int | None, seed: int
) -> str:
    """DuckDB oracle for SAMPLED kendall tau-b.

    Kendall has no distributed closed form, but the sampled variant is
    fully deterministic (the sample is the TakeOrdered prefix of a salted
    content hash — same rows on any engine), and at sample_size ≤ a few
    thousand the oracle can afford the direct O(n²) definition: C − D =
    Σ sign((xᵢ−xⱼ)(yᵢ−yⱼ)) over i<j, tie terms counted pairwise, τ_b =
    (C−D)/√((n0−n1)(n0−n2)). All terms are exact integers < 2⁵³, so the
    final division is bit-identical to the Knight O(n log n) kernel's.
    Caveat shared with every sampled oracle: hash-key strings must render
    identically cross-engine (plain-decimal doubles only)."""
    if len(spec.features) != 2 or not spec.sample_size:
        raise ValueError("sampled kendall oracle needs 2 features and sample_size")
    from raise_featurestore_spark.dataprep import hashing as H

    f1, f2 = spec.features
    where = f"({spec.filter}) AND " if spec.filter else ""
    key = H.h32_sql(
        f"'{seed}' || '|' || CAST({f1} AS VARCHAR) || '|' || CAST({f2} AS VARCHAR)"
    )
    tau = (
        "CAST(s AS DOUBLE) / SQRT(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))"
    )
    if round_to is not None:
        tau = f"{grid_snap_sql(tau, round_to)} + 0.0"
    return (
        f"WITH __s AS (SELECT {f1}, {f2} FROM {table} "
        f"WHERE {where}{f1} IS NOT NULL AND {f2} IS NOT NULL "
        f"ORDER BY {key}, {f1}, {f2} LIMIT {spec.sample_size}), "
        f"__i AS (SELECT ROW_NUMBER() OVER () AS rn, "
        f"CAST({f1} AS DOUBLE) AS x, CAST({f2} AS DOUBLE) AS y FROM __s), "
        f"__p AS (SELECT SUM(SIGN((a.x - b.x) * (a.y - b.y))) AS s, "
        f"SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS n1, "
        f"SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS n2, "
        f"COUNT(*) AS n0 FROM __i a JOIN __i b ON a.rn < b.rn) "
        + " UNION ALL ".join(_diagonal_sql(spec.features))
        + f" UNION ALL SELECT '{f1}', '{f2}', {tau} FROM __p"
    )


def correlation_to_sql(
    spec: Correlation, table: str, round_to: int | None = DEFAULT_ROUND,
    seed: int = 42,
) -> str:
    """DuckDB oracle for any :class:`Correlation` spec, routed the way
    :func:`compile_correlation` routes it: sampled and exact kendall,
    pearson, exact spearman and the grid-snapped spearman default."""
    feats = spec.features
    if spec.method == "kendall":
        if not spec.exact:
            return _kendall_sampled_sql(spec, table, round_to, seed)
        # the per-pair O(n²) definitions under the listwise filter, plus
        # the diagonal
        from raise_featurestore_spark.analytics.kendall_full import (
            kendall_tau_matrix_sql,
        )

        m = kendall_tau_matrix_sql(table, feats, where=spec.filter, round_to=round_to)
        return " UNION ALL ".join(_diagonal_sql(feats)) + (
            f" UNION ALL SELECT feature_a, feature_b, corr FROM ({m})"
        )

    # the listwise NULL/NaN drop of _prepare's na.drop
    notnull = " AND ".join(
        f"{ft} IS NOT NULL AND NOT ISNAN(CAST({ft} AS DOUBLE))" for ft in feats
    )
    where = f" WHERE ({spec.filter}) AND {notnull}" if spec.filter else f" WHERE {notnull}"
    base = f"SELECT {', '.join(feats)} FROM {table}{where}"
    if spec.sample_size:
        # mirror _prepare's deterministic sample (same salted-hash order
        # the sampled kendall oracle uses) — without it the oracle
        # correlates the FULL table against Spark's sampled rows
        from raise_featurestore_spark.dataprep import hashing as H

        key = H.h32_sql(
            f"'{seed}' || '|' || "
            + " || '|' || ".join(f"CAST({ft} AS VARCHAR)" for ft in feats)
        )
        base += f" ORDER BY {key}, {', '.join(feats)} LIMIT {spec.sample_size}"

    if spec.method == "spearman":
        if not spec.exact:
            # the grid default is exact spearman over the sig-grid snap
            from raise_featurestore_spark.functions.stable import sig_round_sql

            snap = ", ".join(
                f"{sig_round_sql(f'CAST({ft} AS DOUBLE)', GRID_SIG_DIGITS)} AS {ft}"
                for ft in feats
            )
            base = f"SELECT {snap} FROM ({base}) __b"
        ranked = ", ".join(
            f"RANK() OVER (ORDER BY {ft}) + (COUNT(*) OVER (PARTITION BY {ft}) - 1) / 2.0 AS {ft}"
            for ft in feats
        )
        src = f"(SELECT {ranked} FROM ({base}) __s) __r"
    else:
        src = f"({base}) __r"

    pairs = list(combinations(range(len(feats)), 2))
    # ONE aggregate pass computes every pair, then per-pair single-column
    # selects unpivot the 1-row result: a per-pair `SELECT corr(..) FROM
    # src` UNION ALL chain makes DuckDB re-evaluate the (ranked) source
    # subquery once per pair (161 s for the 10-feature spearman matrix at
    # sf0.1), and this shape matches the Spark plan's one aggregate.
    aggs = ", ".join(
        f"CORR(CAST({feats[i]} AS DOUBLE), CAST({feats[j]} AS DOUBLE)) AS {_pair_alias(i, j)}"
        for i, j in pairs
    )
    cells = [_pair_alias(i, j) for i, j in pairs]
    if round_to is not None:
        cells = [f"{grid_snap_sql(c, round_to)} + 0.0" for c in cells]
    sels = _diagonal_sql(feats) + [
        f"SELECT '{feats[i]}', '{feats[j]}', {c} FROM __cm" for (i, j), c in zip(pairs, cells)
    ]
    return f"WITH __cm AS MATERIALIZED (SELECT {aggs} FROM {src}) " + " UNION ALL ".join(sels)


def _tau_b(x, y) -> float:
    """Reference kernel: Kendall tau-b in O(n log n) (Knight's algorithm):
    sort by (x, y), count discordant pairs as y-inversions with a Fenwick
    tree over rank-compressed y, correct for x/y/joint ties. Tests and
    scripts/stress_kendall.py pin both engine kernels in
    analytics/kendall_full.py against it; NaN where tau-b is undefined.
    """
    import numpy as np

    n = len(x)
    if n < 2:
        return float("nan")
    order = np.lexsort((y, x))
    xs, ys = x[order], y[order]

    def _tie_term(sorted_vals) -> float:
        _, counts = np.unique(sorted_vals, return_counts=True)
        return float(np.sum(counts * (counts - 1) // 2))

    n0 = n * (n - 1) / 2.0
    n1 = _tie_term(xs)  # x ties (xs already sorted)
    n2 = _tie_term(np.sort(ys))  # y ties
    # joint ties: runs where (x, y) both equal
    joint = np.flatnonzero(np.diff(xs) != 0) + 1
    n3 = 0.0
    for seg in np.split(ys, joint):
        if len(seg) > 1:
            n3 += _tie_term(seg)  # seg is sorted within equal-x runs (lexsort)

    # discordant pairs = inversions of ys across DIFFERENT x values; since
    # ties within an x-run are sorted ascending they contribute 0 inversions
    ranks = np.searchsorted(np.unique(ys), ys) + 1
    tree = np.zeros(len(np.unique(ys)) + 1, dtype=np.int64)

    def bit_add(i: int) -> None:
        while i < len(tree):
            tree[i] += 1
            i += i & (-i)

    def bit_sum(i: int) -> int:  # count of inserted ranks <= i
        s = 0
        while i > 0:
            s += tree[i]
            i -= i & (-i)
        return s

    dis = 0
    seen = 0
    for r in ranks:
        dis += seen - bit_sum(r)  # previously inserted with strictly larger y
        bit_add(r)
        seen += 1
    # subtract inversions *within* equal-x runs: zero by construction
    # (lexsort orders y ascending inside each run), so no correction needed

    num = n0 - n1 - n2 + n3 - 2.0 * dis
    denom = np.sqrt((n0 - n1) * (n0 - n2))
    return float(num / denom) if denom > 0 else float("nan")


def _grid_rank_tables(
    base: DataFrame, features: list[str], with_raw_bounds: bool
) -> tuple[
    dict[str, tuple[np.ndarray, np.ndarray]], dict[str, tuple[float, float]]
]:
    """Collect the per-feature snapped-value → average-rank maps from the
    grid cache ``base`` (column ``__sn_{i}`` holds ``features[i]``
    snapped to the sig grid).

    The value→rank tables are GRID-bounded (≤ cells rows — ~12k total
    for 10 lineitem features), so collecting them to the driver is a
    bounded-metadata collect (the literal-centroid k-means pattern,
    dataprep/clustering.py). EAGER: runs one partial-count job at
    plan-build time (documented on the callers).

    Shape: melt all k features to long form (a NARROW map-side
    ``stack``) straight into a (feature, cell) hash aggregate — the
    PARTIAL aggregate is grid-bounded per partition, so the shuffle
    moves partitions × grid-cells rows regardless of corpus size — then
    the average ranks are a driver-side cumsum over the ≤12k collected
    cells (a distributed prefix-sum window over the cells measured 5.5 s
    cold / 2.0 s warm at sf0.1 vs 2.8 s / 1.8 s for this pass).

    ``with_raw_bounds`` (the pearson half): ``base`` also carries the
    un-snapped doubles as ``__raw_{i}``, and the SAME cell aggregate
    folds per-cell min/max of them, so the pearson constant-guard bounds
    come out of this collect as plan-time literals, with no
    ``_feature_bounds`` pass at action time. ``bounds[ft] = (raw_min,
    raw_max)``, exact (IEEE min/max); empty without ``with_raw_bounds``.

    NaN precondition: the driver-side min/max fold and the
    callers' ``mn == mx`` constant guard use Python float semantics, in
    which ``NaN == NaN`` is False — sound ONLY because every caller
    listwise-drops NULL/NaN rows (``na.drop``) before building the
    snapped frame, so no ``__raw_*`` value is ever NaN. A new caller
    feeding NaN-bearing raws would classify an all-NaN feature as
    healthy instead of constant-NULL; keep the na.drop upstream.
    """
    k = len(features)
    # group key is the INT feature index, not the feature-name string:
    # the stack emits the key once per input row × k, so a
    # string key pays per-row string hashing/equality in the grid
    # aggregate's partial map for no information — the driver maps the
    # index back to the name after the collect.
    args, out = [], ["__fi", "__val"]
    for i in range(k):
        args += [str(i), f"__sn_{i}"] + ([f"__raw_{i}"] if with_raw_bounds else [])
    aggs = [F.count(F.lit(1)).alias("__t")]
    if with_raw_bounds:
        out.append("__rawv")
        aggs += [F.min("__rawv").alias("__mn"), F.max("__rawv").alias("__mx")]
    cells = (
        base.selectExpr(f"stack({k}, {', '.join(args)}) AS ({', '.join(out)})")
        .groupBy("__fi", "__val")
        .agg(*aggs)
        .collect()
    )
    maps: dict[str, list[tuple[float, int]]] = {}
    bounds: dict[str, tuple[float, float]] = {}
    for r in cells:
        ft = features[r["__fi"]]
        maps.setdefault(ft, []).append((r["__val"], r["__t"]))
        if with_raw_bounds:
            mn, mx = bounds.get(ft, (r["__mn"], r["__mx"]))
            bounds[ft] = (min(mn, r["__mn"]), max(mx, r["__mx"]))
    tables: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for ft, v in maps.items():
        v.sort()
        vals = np.ascontiguousarray(np.array([x[0] for x in v], dtype=np.float64))
        t = np.array([x[1] for x in v], dtype=np.float64)
        # inclusive cumsum − (ties−1)/2 = the standard average rank (same
        # formula the range-prefix-sum shape computed distributedly)
        rk = np.cumsum(t) - (t - 1.0) / 2.0
        tables[ft] = (vals, np.ascontiguousarray(rk))
    return tables, bounds


def _grid_rank_lookup(tables: dict, ft: str):
    """Vectorized snapped-value → rank attachment for one feature: ONE
    Arrow pass of np.searchsorted lookups riding the task closure —
    measured 2× the k chained broadcast-hash-join variant (9-15 s vs
    19-28 s at sf0.1, whose per-join stage overheads dominated)."""
    from pyspark.sql.functions import pandas_udf

    # empty-input degrade: when the na-dropped relation had zero rows
    # at map-build time there is no entry for ft — emit NULL ranks so
    # the plan still builds and the (0-row) aggregate yields the same
    # diagonal-1.0 + NULL-pair frame the exact path produces on empty
    # input, instead of a plan-build KeyError.
    keys, vals = tables.get(
        ft, (np.empty(0, dtype=np.float64), np.empty(0, dtype=np.float64))
    )

    @pandas_udf("double")
    def look(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype=np.float64)
        if keys.size == 0:
            return pd.Series(np.full(len(x), np.nan))
        # every input value exists in the map by construction (the
        # map was built from this same snapped relation) — verify,
        # so a stale/foreign map fails loudly instead of silently
        # attaching a neighbour's rank.
        idx = np.minimum(np.searchsorted(keys, x), keys.size - 1)
        if not np.array_equal(keys[idx], x):
            raise RuntimeError(
                f"spearman grid rank map miss for feature {ft!r}: input "
                "contains snapped values absent from the collected map"
            )
        return pd.Series(vals[idx])

    return look


def _rawmoment_corr_cells(
    frame: DataFrame, names: list[str], cells: list[tuple[int, int, str]]
) -> DataFrame:
    """One-row frame of pairwise pearson cells over PRE-CENTERED columns,
    via raw-moment sums instead of one ``F.corr`` per cell.

    ``F.corr`` is a DeclarativeAggregate maintaining six Welford-style
    running means per cell — at 45+45 cells that is ~900 update ops per
    row and the aggregate dominated the wide-matrix queries (measured
    7.4–8.4 s warm for the 90-cell aggregate at sf0.1 vs 4.0–4.6 s for
    this shape, noop sink). This computes |cols| sums + |cols| sum-squares
    + |cells| cross-sums + one count in ONE codegen hash aggregate (~2
    multiply-adds per term) and finalizes each cell as
    ``(n·Sxy − Sx·Sy)/√((n·Sxx − Sx²)(n·Syy − Sy²))`` on the 1-row result.

    Numerical contract: callers MUST center each column (midpoint of the
    feature's bounds / rank range) — pearson is shift-invariant, and
    centering bounds the cancellation in ``n·Sxx − Sx²`` to the benign
    regime. The cells are NOT bit-equal to ``F.corr``: the measured max
    |Δ| is 5e-12 across all 90 lineitem cells, three orders below the
    round-4 emission grid's 5e-5 boundary sensitivity, so the values
    agree after ``grid_snap`` at every tested SF. Degenerate parity with
    Corr: all-NULL column → NULL sums → NULL cell; n ∈ {0, 1} → NULL via
    the explicit guard below; a CONSTANT live column divides by zero →
    ANSI error, exactly like Corr.evaluateExpression (the callers'
    constant-NULL guard prevents both, see _null_constant_features).
    With no cells the frame is the 1-row count alone.
    """
    # SQL-string construction, NOT Column arithmetic: the ~220 aggregate
    # terms + ~90 finalization cells cost one py4j round-trip PER OPERATOR
    # when built from Column objects — measured +2.3 s of driver-side plan
    # construction per compile (the whole win of the faster aggregate,
    # spent before the job started). Strings parse JVM-side, and ONE
    # selectExpr ships the whole aggregate in a single py4j hop (an
    # aggregate-only projection resolves to a global Aggregate, exactly
    # like .agg()).
    used = sorted({i for i, _, _ in cells} | {j for _, j, _ in cells})
    raw = frame.selectExpr(
        "CAST(COUNT(1) AS DOUBLE) AS __n",
        *[f"SUM({names[i]}) AS __rs_{i}" for i in used],
        *[f"SUM({names[i]} * {names[i]}) AS __rq_{i}" for i in used],
        *[f"SUM({names[i]} * {names[j]}) AS __rx_{i}_{j}" for i, j, _ in cells],
    )

    def cell_sql(i: int, j: int) -> str:
        num = f"(__n * __rx_{i}_{j} - __rs_{i} * __rs_{j})"
        dx = f"(__n * __rq_{i} - __rs_{i} * __rs_{i})"
        dy = f"(__n * __rq_{j} - __rs_{j} * __rs_{j})"
        return f"CASE WHEN __n >= 2 THEN {num} / SQRT({dx} * {dy}) END"

    return raw.selectExpr(
        *[f"{cell_sql(i, j)} AS {alias}" for i, j, alias in cells] or ["__n"]
    )


def _grid_corr_matrix(
    df: DataFrame,
    features: list[str],
    round_to: int | None,
    pearson: bool,
) -> DataFrame:
    """The grid-snapped spearman matrix — the 100 TB spearman path — and,
    with ``pearson``, the pearson matrix from the SAME scan.

    Exact spearman must attach a per-row rank, which costs a row-scale
    range shuffle + a row-scale pivot (see :func:`_rank_cols`). Snapping
    every feature to the ``GRID_SIG_DIGITS`` grid first
    (``functions/stable.sig_round`` — the engine's deterministic emission
    grid) bounds each feature's distinct-value relation by the GRID, not
    the data (~900 mantissa cells per decade), so the value→rank maps are
    collected once and rank attachment is a map-side lookup. Zero
    row-scale shuffles at any corpus size. This is an APPROXIMATION of
    spearman only in that near-ties within half a grid step become exact
    ties; the operator is deterministic, so the DuckDB oracle computes
    the SAME snapped definition and the gate hash-matches values. Same
    listwise NULL/NaN drop as the exact path.

    Plan: the listwise-cleaned projection is cached once with
    ``scoped_persist`` — k snapped doubles per row, plus the k raw
    doubles with ``pearson`` — and the EAGER rank-map job
    (:func:`_grid_rank_tables`) populates it, so the action never
    re-reads the source. One map-side projection of the cache emits the
    centred rank-lookup columns (and the guarded, centred raw columns),
    and every cell runs in ONE raw-moment aggregate
    (:func:`_rawmoment_corr_cells`), unpivoted by one ``stack``. Output:
    (feature_a, feature_b, corr), led by a ``method`` column with
    ``pearson``.
    """
    from raise_featurestore_spark.functions.stable import sig_round

    k = len(features)
    raw = [F.col(ft).cast("double") for ft in features]
    # snapped columns INSIDE the per-query cache: sig_round is a
    # per-value string-parse scale (functions/stable._exp10) that both
    # the eager rank-map aggregate and the action's rank lookups need, so
    # it is computed once and both consumers read the identical bits.
    base = scoped_persist(
        df.na.drop(subset=features).select(
            *([c.alias(f"__raw_{i}") for i, c in enumerate(raw)] if pearson else []),
            *[sig_round(c, GRID_SIG_DIGITS).alias(f"__sn_{i}") for i, c in enumerate(raw)],
        )
    )
    tables, bounds = _grid_rank_tables(base, features, with_raw_bounds=pearson)
    empty = (np.empty(0), np.empty(0))

    def centred_rank(i: int, ft: str):
        # ranks centred by their table midpoint (plan-time literal) — the
        # numerical precondition of the raw-moment aggregate; spearman is
        # invariant to the shift
        rk = tables.get(ft, empty)[1]
        mid = float((rk[0] + rk[-1]) / 2.0) if rk.size else 0.0
        look = _grid_rank_lookup(tables, ft)
        return (look(F.col(f"__sn_{i}")) - F.lit(mid)).alias(f"__s_{i}")

    def centred_raw(i: int, ft: str):
        # pearson ANSI constant-feature guard (see _null_constant_features):
        # a CONSTANT feature (min == max on the listwise-cleaned frame, or
        # an empty frame) becomes an all-NULL column, so its cells
        # short-circuit to NULL with no division; healthy columns are
        # centred by the bounds midpoint (pearson is shift-invariant)
        mnmx = bounds.get(ft)
        if mnmx is None or mnmx[0] == mnmx[1]:
            return F.lit(None).cast("double").alias(f"__p_{i}")
        return (F.col(f"__raw_{i}") - F.lit((mnmx[0] + mnmx[1]) / 2.0)).alias(f"__p_{i}")

    wide = base.select(
        *([centred_raw(i, ft) for i, ft in enumerate(features)] if pearson else []),
        *[centred_rank(i, ft) for i, ft in enumerate(features)],
    )
    pairs = list(combinations(range(k), 2))
    # spearman degenerate guard, free on this path: a feature whose rank
    # map has ≤ 1 cell is constant on the snapped frame (zero rank
    # variance, a DIVIDE_BY_ZERO under ANSI exactly as Spark 4's Corr) —
    # its pairs become literal NULLs (the DuckDB twin's CORR answer) and
    # never enter the aggregate
    degen = {i for i, ft in enumerate(features) if tables.get(ft, empty)[0].size <= 1}
    live = {(i, j) for i, j in pairs if i not in degen and j not in degen}
    names = [f"__p_{i}" for i in range(k)] + [f"__s_{i}" for i in range(k)]
    one_row = _rawmoment_corr_cells(
        wide,
        names,
        ([(i, j, f"__pc_{i}_{j}") for i, j in pairs] if pearson else [])
        + [(k + i, k + j, f"__sc_{i}_{j}") for i, j in pairs if (i, j) in live],
    )
    rows = _matrix_rows(
        features,
        lambda i, j: f"__sc_{i}_{j}" if (i, j) in live else "CAST(NULL AS DOUBLE)",
        "spearman" if pearson else None,
    )
    if pearson:
        rows = _matrix_rows(features, lambda i, j: f"__pc_{i}_{j}", "pearson") + rows
    return _unpivot(one_row, rows, round_to, with_method=pearson)


def correlation_matrix_dual(
    df: DataFrame, features: list[str], round_to: int | None = DEFAULT_ROUND
) -> DataFrame:
    """Pearson AND grid-snapped-spearman matrices from ONE shared scan —
    the fused form of the PRD wide-matrix query (raise_/PRD.md:2754,
    10-feature matrix < 10 s; matrix semantics analysis.py:152-195), in
    the long (method, feature_a, feature_b, corr) form.

    Contract: after ``grid_snap`` to ``round_to`` the rows equal
    ``compile_correlation``'s pearson and spearman-default matrices, each
    tagged with its method. Before the snap they are not bit-equal: the
    pearson cells come from the raw-moment aggregate, not ``F.corr``
    (max |Δ| 5e-12, see :func:`_rawmoment_corr_cells`). The plan is the
    grid kernel's (:func:`_grid_corr_matrix`) with the pearson half added:
    the raw columns ride in the cache, the raw min/max fold into the same
    rank-map collect, and all 2·C(k,2) cells run in ONE aggregate.
    Separate legs (``compile_correlation`` per method) cost 4 data-scale
    scans and 2 aggregate barriers — measured 6.8 s warm / 13.4 s cold at
    sf0.1 vs 5.4 s / 9.3 s for the fused plan. EAGER: building the plan
    runs the rank-map job.
    """
    return _grid_corr_matrix(df, features, round_to, pearson=True)
