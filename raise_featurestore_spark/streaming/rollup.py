"""Incremental rollup maintenance: hypertable-style time-bucket aggregates
kept up to date by MERGING partials, never rescanning history.

The 100 TB pattern: a metrics table grows by a few GB per day; the daily
rollup must not re-aggregate years of history per refresh. Store the
rollup as MERGEABLE PARTIALS (count, decimal sum, decimal sum-of-squares,
min, max, poison) rather than finished metrics; each refresh aggregates
ONLY the new batch and merges it in with a tiny per-bucket combine; any
metric in the sum/avg/stddev/variance/min/max/count family finalizes from
the partials on read.

Because the moment partials accumulate in exact decimals
(functions/stable.dec_scaled), merging is INTEGER math — associative and
commutative — so an incrementally-maintained rollup is BIT-IDENTICAL to a
from-scratch recompute, regardless of how the arrivals were batched. That
is the invariant the registered query verdicts cross-engine: Spark runs
history ⊕ batch through the merge path while the DuckDB oracle
recomputes from the raw table.

(reference surface: raise_/analytics/live_table.py's refresh-on-change
materialization contract; this module supplies the scalable MERGE
semantics a live aggregate table needs at 100 TB.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.stable import (
    dec_poison,
    dec_poison_sql,
    dec_scaled,
    dec_scaled_sql,
    poisoned,
    poisoned_sql,
    stable_round,
    stable_round_sql,
)

# dec_scaled conversion contract (r8): stored s1/ss partials hold the
# SCALED integers value*10^4 / value^2*10^8 (DECIMAL(28/38,0)); finalize
# divides once after the double cast. Partials written by the pre-r8
# dec_term format carry scale-4/8 decimal types. Spark's union type
# coercion silently WIDENS decimal(28,4) vs decimal(28,0) to
# decimal(38,4) rather than erroring (r8 ADVICE high), so mixing the two
# formats would corrupt values without a poison — hence TWO guards:
# merge_rollups asserts scale 0 on both inputs (raises on pre-r8
# partials), and the streaming maintainer stamps a ``_format_version``
# marker into the live state dir and refuses to merge onto a mismatched
# generation.
_G1 = 1e4
_G2 = 1e8

# bumped whenever the stored-partial layout changes incompatibly;
# per-sketch-family markers (moments vs percentile grids share the state
# machine but not the schema)
_FORMAT_MOMENTS = "moments-v2-dec-scaled"
_FORMAT_PCTL = "pctl-grid-v1"

_PARTIAL_COLS = ["n", "s1", "ss", "mn", "mx", "pois"]

# period rendering must carry the bucket's full granularity — truncating
# an hourly bucket to 'yyyy-MM-dd' would silently collapse a day's hours
# into one group on BOTH engines (so the oracle could never catch it)
_BUCKET_FMT = {
    "year": ("yyyy", "%Y"),
    "month": ("yyyy-MM", "%Y-%m"),
    "week": ("yyyy-MM-dd", "%Y-%m-%d"),
    "day": ("yyyy-MM-dd", "%Y-%m-%d"),
    "hour": ("yyyy-MM-dd HH:00", "%Y-%m-%d %H:00"),
    "minute": ("yyyy-MM-dd HH:mm", "%Y-%m-%d %H:%M"),
}


def _fmt(bucket: str) -> tuple[str, str]:
    if bucket not in _BUCKET_FMT:
        raise ValueError(
            f"unsupported rollup bucket {bucket!r}; one of {sorted(_BUCKET_FMT)}"
        )
    return _BUCKET_FMT[bucket]


def rollup_partials(
    df: DataFrame,
    value_col: str,
    time_col: str = "ts",
    bucket: str = "day",
    group_by: str | None = None,
) -> DataFrame:
    """Per-bucket mergeable partials of ``value_col`` — the STORED form of
    the rollup. One grouped aggregate (map-side combinable)."""
    d = F.col(value_col).cast("double")
    dec = dec_scaled(d)
    keys = [F.col(group_by)] if group_by else []
    period = F.date_format(
        F.date_trunc(bucket, F.col(time_col)), _fmt(bucket)[0]
    ).alias("period_start")
    from raise_featurestore_spark.functions.stable import underflow_count

    return df.groupBy(*keys, period).agg(
        F.count(d).alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("ss"),
        F.min(d).alias("mn"),
        F.max(d).alias("mx"),
        dec_poison(d).alias("pois"),
        # underflow COUNT partial (r7 sentinel): mergeable across batches;
        # the majority test runs at finalize over the combined totals
        underflow_count(d).alias("uf"),
    )


def _assert_scaled_partials(df: DataFrame, which: str) -> None:
    """Refuse pre-r8 dec_term partials LOUDLY: their s1/ss carry decimal
    scale 4/8 (value-scale), and unioning them with the current scale-0
    (value*1e4-scale) format coerces silently to decimal(38,4) — mixing
    the two would halve/quarter every merged sum with no error (r8
    ADVICE high, verified empirically by the advisor)."""
    from pyspark.sql.types import DecimalType

    for name in ("s1", "ss"):
        if name not in df.columns:
            raise ValueError(
                f"rollup merge: {which} partials missing column {name!r} — "
                "not a moments partial table"
            )
        dt = df.schema[name].dataType
        if isinstance(dt, DecimalType) and dt.scale != 0:
            raise ValueError(
                f"rollup merge: {which} partials column {name!r} has decimal "
                f"scale {dt.scale} — pre-r8 dec_term format (value-scale), "
                "incompatible with the current scaled-integer format."
            )


def merge_rollups(
    existing: DataFrame, delta: DataFrame, group_by: str | None = None
) -> DataFrame:
    """Combine two partial tables: unionByName + one per-bucket combine.
    Decimal sums merge exactly; the refresh cost is O(|delta| buckets),
    independent of history size."""
    keys = ([group_by] if group_by else []) + ["period_start"]
    _assert_scaled_partials(existing, "existing")
    _assert_scaled_partials(delta, "delta")
    return (
        existing.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("ss").alias("ss"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
            F.max("pois").alias("pois"),
            F.sum("uf").alias("uf"),
        )
    )


def finalize_rollup(
    partials: DataFrame,
    metrics: list[str],
    group_by: str | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Finished metrics from partials — a pure projection (no scan of the
    base table). Formulas match analytics/aggregation.py's exact path, so
    a finalized incremental rollup hash-matches a direct Aggregation."""
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double") / F.lit(_G1)
    ss = F.col("ss").cast("double") / F.lit(_G2)
    # dec-domain poison + the r7 underflow sentinel over the MERGED
    # totals: a bucket whose rows mostly snap to 0 on the grid emits NaN,
    # not a confidently wrong 0.0 (mirrors aggregation.py's flat path)
    pois = F.col("pois") + F.when(
        F.col("uf") * 2 > F.col("n"), F.lit(float("nan"))
    ).otherwise(F.lit(0.0))
    out = ([F.col(group_by)] if group_by else []) + [F.col("period_start")]
    for m in metrics:
        if m == "count":
            out.append(F.col("n").alias("count_value"))
            continue
        if m == "sum":
            core = s1
        elif m in ("avg", "mean"):
            core = s1 / n
        elif m in ("variance", "stddev"):
            var = (ss - s1 * s1 / n) / (n - F.lit(1.0))
            if m == "stddev":
                var = F.sqrt(F.greatest(var, F.lit(0.0)))
            core = F.when(F.col("n") > 1, var)
        elif m == "min":
            out.append(F.col("mn").alias("min_value"))
            continue
        elif m == "max":
            out.append(F.col("mx").alias("max_value"))
            continue
        else:
            raise ValueError(f"unsupported rollup metric {m!r}")
        out.append(
            stable_round(poisoned(core, pois), decimals=round_to).alias(f"{m}_value")
        )
    return partials.select(*out)


def rollup_recompute_sql(
    table: str,
    value_col: str,
    metrics: list[str],
    time_col: str = "ts",
    bucket: str = "day",
    group_by: str | None = None,
    where: str | None = None,
    round_to: int = 4,
) -> str:
    """From-scratch DuckDB recompute — the oracle the incremental path
    must hash-match (same exact-decimal formulas)."""
    d = f"CAST({value_col} AS DOUBLE)"
    dec = dec_scaled_sql(d)
    n = f"CAST(COUNT({d}) AS DOUBLE)"
    s1 = f"(CAST(SUM({dec}) AS DOUBLE) / CAST('1e4' AS DOUBLE))"
    ss = f"(CAST(SUM(({dec}) * ({dec})) AS DOUBLE) / CAST('1e8' AS DOUBLE))"
    from raise_featurestore_spark.functions.stable import underflow_count_sql

    pois = (
        f"({dec_poison_sql(d)} + CASE WHEN {underflow_count_sql(d)} * 2 > "
        f"COUNT({d}) THEN CAST('NaN' AS DOUBLE) ELSE 0.0 END)"
    )
    outs = []
    for m in metrics:
        if m == "count":
            outs.append(f"COUNT({d}) AS count_value")
            continue
        if m == "sum":
            core = s1
        elif m in ("avg", "mean"):
            core = f"{s1} / {n}"
        elif m in ("variance", "stddev"):
            var = f"({ss} - {s1} * {s1} / {n}) / ({n} - 1.0)"
            if m == "stddev":
                var = f"SQRT(GREATEST({var}, 0.0))"
            core = f"CASE WHEN COUNT({d}) > 1 THEN {var} END"
        elif m == "min":
            outs.append(f"MIN({value_col}) AS min_value")
            continue
        elif m == "max":
            outs.append(f"MAX({value_col}) AS max_value")
            continue
        else:
            raise ValueError(f"unsupported rollup metric {m!r}")
        outs.append(
            f"{stable_round_sql(poisoned_sql(core, pois), decimals=round_to)} AS {m}_value"
        )
    keys = f"{group_by}, " if group_by else ""
    grp = "1, 2" if group_by else "1"
    w = f" WHERE {where}" if where else ""
    return (
        f"SELECT {keys}STRFTIME(DATE_TRUNC('{bucket}', {time_col}), '{_fmt(bucket)[1]}') "
        f"AS period_start, {', '.join(outs)} FROM {table}{w} GROUP BY {grp}"
    )


# ------------------------------------------------------------- streaming


def make_rollup_batch_fn(
    spark,
    state_path: str,
    value_col: str,
    time_col: str = "ts",
    bucket: str = "day",
    group_by: str | None = None,
    partials_fn=None,
    merge_fn=None,
    format_version: str = _FORMAT_MOMENTS,
):
    """``foreachBatch`` function maintaining the partial table on disk:
    aggregate ONLY the micro-batch, merge with the stored partials, and
    stage-and-swap the result. State between micro-batches IS the partial
    table (same posture as streaming/curation.py) — no executor-memory
    state, so restart/rescale is free and a year of history is never
    rescanned. An interrupted
    swap self-heals on the next batch (see the recovery block); a
    multi-writer production deployment would back this with a
    Delta/Iceberg transactional overwrite (io/writer.py's MERGE path)
    instead of directory renames.

    Replay idempotence: the last-applied batch_id rides INSIDE the staged
    directory (``_applied_batch`` — underscore-prefixed, so parquet readers
    ignore it) and is therefore installed ATOMICALLY with the data by the
    same rename. If the process dies after the swap but before Structured
    Streaming commits its checkpoint, the replayed batch sees
    marker >= batch_id and skips — without the marker it would re-merge a
    delta the live table already contains (r5 ADVICE finding)."""
    import os
    import shutil

    # the sketch family is pluggable (r8): the same staged-swap state
    # machine maintains moment partials (default) or the percentile grid
    # histograms — only the partial builder and the merge differ
    partials_fn = partials_fn or rollup_partials
    merge_fn = merge_fn or merge_rollups

    def _applied(live: str) -> int:
        try:
            with open(os.path.join(live, "_applied_batch")) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return -1

    def _check_format(live: str) -> None:
        # the live generation is stamped with its partial-layout version
        # (installed atomically by the same rename as the data); a
        # MISMATCHED marker means the stored partials were written by an
        # incompatible layout and merging would corrupt silently (union
        # decimal coercion widens instead of erroring — r8 ADVICE high).
        # An ABSENT marker (pre-r9 state) falls through to
        # merge_rollups' decimal-scale assert, which catches the one
        # real pre-marker incompatibility (dec_term vs dec_scaled).
        marker = os.path.join(live, "_format_version")
        try:
            with open(marker) as fh:
                found = fh.read().strip()
        except OSError:
            return
        if found != format_version:
            raise ValueError(
                f"rollup state at {live!r} was written by partial format "
                f"{found!r}; this maintainer writes {format_version!r}. "
                "Refusing to merge incompatible partials — point at a "
                "fresh state_path."
            )

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        live = os.path.join(state_path, "live")
        if not os.path.isdir(live):
            # interrupted swap: a death between the two renames leaves the
            # history in an old-* dir; re-seeding from the delta would
            # silently LOSE all pre-crash totals, so restore the newest
            # displaced generation first (idempotent under Structured
            # Streaming batch replay; r5 review finding)
            olds = sorted(
                (
                    n
                    for n in (
                        os.listdir(state_path) if os.path.isdir(state_path) else []
                    )
                    if n.startswith("old-")
                ),
                key=lambda n: int(n.split("-", 1)[1]),
            )
            if olds:
                os.rename(os.path.join(state_path, olds[-1]), live)
        if os.path.isdir(live) and _applied(live) >= batch_id:
            return  # checkpoint-replayed batch already merged into live
        delta = partials_fn(batch_df, value_col, time_col, bucket, group_by)
        if os.path.isdir(live) and any(
            n.endswith(".parquet") for n in os.listdir(live)
        ):
            _check_format(live)
            existing = spark.read.parquet(live)
            merged = merge_fn(existing, delta, group_by)
        else:
            merged = delta
        stage = os.path.join(state_path, f"stage-{batch_id}")
        merged.write.mode("overwrite").parquet(stage)  # clobbers a retry's leftover
        with open(os.path.join(stage, "_applied_batch"), "w") as fh:
            fh.write(str(batch_id))
        with open(os.path.join(stage, "_format_version"), "w") as fh:
            fh.write(format_version)
        old = os.path.join(state_path, f"old-{batch_id}")
        shutil.rmtree(old, ignore_errors=True)  # a retry's leftover
        if os.path.isdir(live):
            os.rename(live, old)
        os.rename(stage, live)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)

    return on_batch


def rollup_stream(
    stream_df: DataFrame,
    spark,
    state_path: str,
    checkpoint_path: str,
    value_col: str,
    **kw,
):
    """Wire the merge function into a writeStream (caller starts it)."""
    return (
        stream_df.writeStream.foreachBatch(
            make_rollup_batch_fn(spark, state_path, value_col, **kw)
        )
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


# ------------------------------------------------- percentile rollups
#
# Sum/avg/stddev partials merge as integers; PERCENTILES need a mergeable
# distribution summary. The engine's is a GRID HISTOGRAM on the
# significant-digit grid (functions/stable.sig_round): per bucket, a
# (cell, cnt) map whose size is bounded by the RELATIVE grid (~900
# mantissa cells per decade → a few thousand cells total regardless of
# row count), merged by integer addition, finalized as the type-1
# (lower) quantile over cumulative counts. Unlike t-digest/KLL this
# sketch is DETERMINISTIC and engine-reproducible, so the incremental
# answer is oracle-checkable: the quantile on the snapped grid, exact —
# relative error ≤ half a grid step (≈0.05% at 3 significant digits),
# the documented contract. Non-finite rows are excluded from the
# distribution (they have no place on a quantile axis; the NaN/Inf
# POLICY lives in the quality operators).


def _q_labels(qs: tuple[float, ...]) -> list[str]:
    """Output column names derived from the EXACT quantile, not a rounded
    percent: ``p{round(q*100):02d}`` collided for qs that round to the
    same integer percent and mislabeled q=0.125 as p12 under banker's
    rounding (r8 ADVICE low). 0.5→p50, 0.95→p95, 0.125→p12_5,
    0.954→p95_4; duplicate labels (duplicate qs) raise."""
    from decimal import Decimal

    labels = []
    for q in qs:
        if not 0.0 < float(q) <= 1.0:
            raise ValueError(f"quantile out of range (0, 1]: {q!r}")
        pct = format((Decimal(repr(float(q))) * 100).normalize(), "f")
        whole, _, frac = pct.partition(".")
        labels.append("p" + whole.zfill(2) + (f"_{frac}" if frac else ""))
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate percentile labels from qs={qs!r}: {labels}")
    return labels


def percentile_partials(
    df: DataFrame,
    value_col: str,
    time_col: str = "ts",
    bucket: str = "day",
    group_by: str | None = None,
    sig_digits: int = 3,
) -> DataFrame:
    """Per-bucket mergeable grid-histogram partial: (keys…, period_start,
    cell, cnt). One grouped aggregate, map-side combinable; the stored
    size is rows-independent (grid-bounded)."""
    from raise_featurestore_spark.functions.stable import sig_round

    d = F.col(value_col).cast("double")
    finite = d.isNotNull() & ~F.isnan(d) & (F.abs(d) != F.lit(float("inf")))
    keys = [F.col(group_by)] if group_by else []
    period = F.date_format(
        F.date_trunc(bucket, F.col(time_col)), _fmt(bucket)[0]
    ).alias("period_start")
    return (
        df.where(finite)
        .groupBy(*keys, period, sig_round(d, sig_digits).alias("cell"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_percentile_rollups(
    existing: DataFrame, delta: DataFrame, group_by: str | None = None
) -> DataFrame:
    """Integer-exact combine: union + per-(bucket, cell) count addition.
    Associative and commutative, so ANY batching of arrivals finalizes
    to the same quantiles as a from-scratch recompute."""
    keys = ([group_by] if group_by else []) + ["period_start", "cell"]
    return (
        existing.unionByName(delta)
        .groupBy(*keys)
        .agg(F.sum("cnt").alias("cnt"))
    )


def finalize_percentile_rollup(
    partials: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.95),
    group_by: str | None = None,
) -> DataFrame:
    """Quantiles from the merged histogram — a window + one aggregate
    over the grid-bounded relation (≤ cells rows per bucket, never data
    scale). Type-1 (lower) quantile: the smallest cell whose cumulative
    count reaches ceil(q·n) — pure integer/compare logic, identical on
    any engine; the emitted cell values are already on the sig grid."""
    from pyspark.sql.window import Window

    keys = ([group_by] if group_by else []) + ["period_start"]
    w = (
        Window.partitionBy(*keys)
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*keys)
    cum = partials.select(
        *keys,
        "cell",
        F.sum("cnt").over(w).alias("__cum"),
        F.sum("cnt").over(tot).alias("__n"),
    )
    aggs = [F.max("__n").cast("long").alias("n")]
    for q, label in zip(qs, _q_labels(qs)):
        # ceil(q·n) via the shared double literal; both engines compute
        # the identical product/ceil (q itself may be binary-inexact —
        # fine, as long as it is the SAME double everywhere)
        target = F.ceil(F.lit(float(q)) * F.col("__n").cast("double")).cast("long")
        aggs.append(
            F.min(F.when(F.col("__cum") >= target, F.col("cell"))).alias(label)
        )
    return cum.groupBy(*keys).agg(*aggs)


def percentile_recompute_sql(
    table: str,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.95),
    time_col: str = "ts",
    bucket: str = "day",
    group_by: str | None = None,
    sig_digits: int = 3,
) -> str:
    """From-scratch DuckDB recompute the incremental path must
    hash-match: the same grid snap, cumulative counts, and type-1 pick
    from the raw rows."""
    from raise_featurestore_spark.functions.stable import dlit, sig_round_sql

    d = f"CAST({value_col} AS DOUBLE)"
    finite = f"{value_col} IS NOT NULL AND NOT ISNAN({d}) AND NOT ISINF({d})"
    keys = f"{group_by}, " if group_by else ""
    part = f"PARTITION BY {keys.rstrip(', ')}{', ' if group_by else ''}period_start"
    sel = ["CAST(MAX(__n) AS BIGINT) AS n"]
    for q, label in zip(qs, _q_labels(qs)):
        target = f"CAST(CEIL({dlit(float(q))} * CAST(__n AS DOUBLE)) AS BIGINT)"
        sel.append(f"MIN(CASE WHEN __cum >= {target} THEN cell END) AS {label}")
    return (
        f"WITH __cells AS (SELECT {keys}"
        f"STRFTIME(DATE_TRUNC('{bucket}', {time_col}), '{_fmt(bucket)[1]}') AS period_start, "
        f"{sig_round_sql(d, sig_digits)} AS cell, COUNT(*) AS cnt "
        f"FROM {table} WHERE {finite} GROUP BY 1, 2{', 3' if group_by else ''}), "
        f"__cum AS (SELECT *, SUM(cnt) OVER ({part} ORDER BY cell "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __cum, "
        f"SUM(cnt) OVER ({part}) AS __n FROM __cells) "
        f"SELECT {keys}period_start, {', '.join(sel)} FROM __cum "
        f"GROUP BY {'1, 2' if group_by else '1'}"
    )


def make_percentile_rollup_batch_fn(
    spark,
    state_path: str,
    value_col: str,
    time_col: str = "ts",
    bucket: str = "day",
    group_by: str | None = None,
    sig_digits: int = 3,
):
    """``foreachBatch`` maintainer for the PERCENTILE grid histograms —
    the same staged-swap/replay-idempotent state machine as
    :func:`make_rollup_batch_fn`, with the grid-histogram partials and
    integer-addition merge plugged in. Query the live table with
    :func:`finalize_percentile_rollup`."""

    def _partials(df, v, t, b, g):
        return percentile_partials(df, v, t, b, g, sig_digits=sig_digits)

    return make_rollup_batch_fn(
        spark,
        state_path,
        value_col,
        time_col,
        bucket,
        group_by,
        partials_fn=_partials,
        merge_fn=merge_percentile_rollups,
        format_version=_FORMAT_PCTL,
    )
