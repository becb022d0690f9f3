"""Point-in-time (as-of) join — leak-free feature retrieval for training.

Not in the reference surface (SURVEY.md §2.3: "No theta/range/as-of/...
joins"); added as a §2.14 training-data operator: building a training set
from an event spine must take, per (entity, event_ts), the LATEST feature
row with feature_ts ≤ event_ts — a plain equi-join either leaks future
values or drops history.

Spark-first plan — the union-window formulation, not a range join:

1. Tag spine rows (1) and feature rows (0), union them on the shared
   (entity key, ts) spine.
2. One window per key — ``partitionBy(key).orderBy(ts, tag)`` with
   ``last(value, ignorenulls=True)`` over UNBOUNDED PRECEDING..CURRENT —
   fills every spine row with the most recent feature values at-or-before
   its ts (features sort before spine on ties, so the match is inclusive,
   same as DuckDB's ASOF).
3. Keep the spine rows; optionally null out fills older than ``tolerance``.

Cost: ONE hash shuffle on the entity key + a per-partition sort — the same
price as the equi-join you'd have written anyway; no range-join explosion,
no per-entity collect. Skew follows the key (a hot entity's history sorts
in one task); pass ``salt=N`` to scatter a dominant entity's spine rows
across N sub-windows (features replicate; result identical).

Determinism: feature rows must be unique per (key, ts) — with duplicate
timestamps "the latest row" is undefined in ANY engine (DuckDB's ASOF picks
arbitrarily too). Pre-aggregate duplicates (e.g. groupBy(key, ts).max).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    spine: DataFrame,
    features: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    matched_ts_col: str | None = None,
    salt: int | None = None,
) -> DataFrame:
    """For every spine row, attach the feature values as of its timestamp.

    ``backward`` (default) matches the latest feature row with
    ``right_ts <= left_ts``; ``forward`` the earliest with
    ``right_ts >= left_ts``. ``tolerance_seconds`` nulls matches farther
    than the bound; ``matched_ts_col`` exposes the matched feature ts.

    ``salt=N`` is the hot-entity escape hatch: the single window partitions
    by the entity key, so one entity owning 90% of the spine sorts in ONE
    task. With salt, spine rows scatter across N sub-partitions
    (deterministic hash of the spine row — same scatter rule as
    ``functions/skew.salted_join``) while feature rows replicate to every
    sub-partition, so each sub-window still sees the full feature history
    and the result is IDENTICAL to the unsalted join
    (tests/test_asof.py pins equivalence on a 90%-one-key fixture). Cost:
    features × N — right when per-key feature history ≪ spine fan-out,
    which is exactly the hot-spine shape.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if salt is not None and salt < 1:
        raise ValueError("salt must be a positive partition-split count")
    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in features.columns if c not in (*keys, right_ts)]
    clash = set(value_cols) & set(spine.columns)
    if clash:
        raise ValueError(f"feature value columns collide with spine columns: {sorted(clash)}")
    if salt is not None and "__salt" in (*spine.columns, *features.columns):
        raise ValueError("column name '__salt' is reserved by asof_join(salt=...)")

    ftypes = dict(features.dtypes)
    spine_extra = [c for c in spine.columns if c not in keys and c != left_ts]
    stypes = dict(spine.dtypes)

    if salt is None:
        spine_salt: list = []
        feat_salt: list = []
    else:
        # deterministic scatter from the spine row's hashable columns
        # (maps are unhashable in Spark — including NESTED maps inside
        # structs/arrays, hence substring not prefix match; salt never
        # affects the RESULT, only which sub-partition computes it — same
        # rule as salted_join)
        hashable = [c for c, t in spine.dtypes if "map" not in t]
        scatter = (
            F.hash(*[F.col(c) for c in hashable])
            if hashable
            else F.monotonically_increasing_id()
        )
        spine_salt = [F.pmod(scatter, F.lit(salt)).alias("__salt")]
        feat_salt = [F.explode(F.array(*[F.lit(i) for i in range(salt)])).alias("__salt")]

    s = spine.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        *spine_extra,
        *[F.lit(None).cast(ftypes[c]).alias(c) for c in value_cols],
        *spine_salt,
    )
    f = features.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        *[F.lit(None).cast(stypes[c]).alias(c) for c in spine_extra],
        *value_cols,
        *feat_salt,
    )
    u = s.unionByName(f)

    part_keys = [*keys] + (["__salt"] if salt is not None else [])
    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__tag").asc()]
    else:
        order = [F.col("__ts").desc(), F.col("__tag").asc()]
    w = (
        Window.partitionBy(*part_keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    # Fill ONE struct of (value cols, feature ts) rather than each column
    # independently: per-column last(ignorenulls) lets a genuinely-NULL
    # feature value fall through to an OLDER feature row, blending fields
    # from different rows (and sneaking stale values past the tolerance
    # gate, which only sees the newest matched ts). The struct is non-null
    # exactly on feature rows, so the fill is atomic per matched row —
    # identical to DuckDB ASOF semantics.
    payload = F.last(
        F.when(
            F.col("__tag") == 0,
            F.struct(
                *[F.col(c) for c in value_cols], F.col("__ts").alias("__fts")
            ),
        ),
        ignorenulls=True,
    ).over(w)

    out = u.select(
        *keys,
        F.col("__ts"),
        F.col("__tag"),
        *spine_extra,
        *[payload[c].alias(c) for c in value_cols],
        payload["__fts"].alias("__matched_ts"),
    ).where(F.col("__tag") == 1)

    if tolerance_seconds is not None:
        # timestampdiff works on both TIMESTAMP and TIMESTAMP_NTZ inputs
        # (unix_micros rejects NTZ, which is what naive parquet reads as)
        if direction == "backward":
            gap = F.expr("timestampdiff(MICROSECOND, __matched_ts, __ts)")
        else:
            gap = F.expr("timestampdiff(MICROSECOND, __ts, __matched_ts)")
        ok = gap <= F.lit(int(tolerance_seconds * 1_000_000))
        out = out.select(
            *keys,
            "__ts",
            *spine_extra,
            *[F.when(ok, F.col(c)).alias(c) for c in value_cols],
            F.when(ok, F.col("__matched_ts")).alias("__matched_ts"),
        )

    cols = [*keys, F.col("__ts").alias(left_ts), *spine_extra, *value_cols]
    if matched_ts_col is not None:
        cols.append(F.col("__matched_ts").alias(matched_ts_col))
    return out.select(*cols)
