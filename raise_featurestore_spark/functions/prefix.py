"""Distributed prefix sums: the scale-safe replacement for
``Window.orderBy(x)`` with no partition spec.

An unpartitioned cumulative window funnels the whole relation through ONE
task (Spark logs ``WARN WindowExec: No Partition Defined``) — fine on 10⁴
distinct values, a straggler at 10⁹. ``range_prefix_sums`` computes the
same inclusive running totals with the classic distributed scan:

1. ``repartitionByRange`` on (group cols, order col) → P range-ordered
   partitions (RangePartitioning assigns ascending key ranges to ascending
   partition ids, and equal keys always land in the same partition).
2. A *partitioned* window per (group, range partition) → local cumulative
   sums run in parallel, each over ~1/P of the rows.
3. Per-(group, partition) totals (≤ P·|groups| rows — metadata scale) get
   an exclusive prefix via a triangular broadcast self-join on partition id
   within the group, and are joined back as offsets. (A window over the
   totals would re-introduce the unpartitioned-window warning; the
   triangular join never concentrates data.)

Total cost: one range shuffle + one broadcast join + one transient
materialization of the shuffled frame; no single-task sort of the full
relation. The materialization (``scoped_checkpoint``) is NOT an
optimization: the local-sums and totals branches MUST observe the same
range boundaries, and without pinning one physical instance the optimizer
can plant two independent range exchanges whose per-RDD-seeded boundary
samples disagree — see the CORRECTNESS comment at the pin site for the
observed corruption.

Rows are expected to be UNIQUE in (group cols, order col) — call after a
``groupBy`` on them, which is how every caller here uses it; ties within a
partition would make the local window's frame order nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.conf_scope import scoped_checkpoint


def grouped_range_prefix_sums(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    sums: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Add inclusive running-total columns ordered by ``order_col`` within
    each group. ``sums`` maps output column name -> source column name;
    each entry is equivalent to
    ``F.sum(src).over(Window.partitionBy(*group_cols).orderBy(order_col))``
    but a hot group never collapses onto a single task: the range shuffle
    spreads (group, order) jointly, so one group's values span many
    partitions and the offset join stitches them back."""
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    range_cols = [F.col(c) for c in group_cols] + [F.col(order_col)]
    part = df.repartitionByRange(num_partitions, *range_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # CORRECTNESS: the local-sums branch and the totals branch below both
    # read this frame. Without pinning it, the optimizer may plant TWO
    # independent range exchanges — and RangePartitioner's sampled bounds
    # are seeded per RDD instance, so the two branches can disagree on
    # which partition a key lands in. The offset join then stitches
    # partition i's local sums to partition i's total under a DIFFERENT
    # boundary — silently wrong running totals (observed: ~25k of 26k
    # cums wrong on a 50k-row corpus; invisible at small scale where the
    # bound sample is exhaustive). The checkpoint pins ONE physical RDD
    # instance both branches read. Trade: a lost executor cannot
    # recompute truncated lineage and fails the job (same posture as
    # components.py's iterative checkpoints); storage is one transient
    # MEMORY_AND_DISK copy on top of the shuffle.
    part = scoped_checkpoint(part, eager=False)
    w_local = (
        Window.partitionBy(*group_cols, "__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.select(
        "*", *[F.sum(src).over(w_local).alias(f"__loc_{out}") for out, src in sums.items()]
    )
    totals = part.groupBy(*group_cols, "__pid").agg(
        *[F.sum(src).alias(f"__tot_{out}") for out, src in sums.items()]
    )
    lower = totals.select(
        *[F.col(c).alias(f"__b_{c}") for c in group_cols],
        F.col("__pid").alias("__bpid"),
        *[F.col(f"__tot_{out}").alias(f"__btot_{out}") for out in sums],
    )
    cond = F.col("__bpid") < F.col("__pid")
    for c in group_cols:
        cond = cond & (F.col(f"__b_{c}") == F.col(c))
    offsets = (
        totals.join(F.broadcast(lower), cond, "left")
        .groupBy(*group_cols, "__pid")
        .agg(
            *[
                F.coalesce(F.sum(f"__btot_{out}"), F.lit(0)).alias(f"__off_{out}")
                for out in sums
            ]
        )
    )
    out_cols = [c for c in df.columns] + [
        (F.col(f"__loc_{out}") + F.col(f"__off_{out}")).alias(out) for out in sums
    ]
    return local.join(F.broadcast(offsets), [*group_cols, "__pid"]).select(*out_cols)


def grouped_range_avg_ranks(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    out_col: str = "__rk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-ROW average-of-tied-ranks within each group, attached WITHOUT a
    value-level join-back: one range shuffle of the rows, local windows,
    and the triangular offset join — where the byval-then-join shape
    (groupBy distinct values → prefix sums → equi-join back to rows) paid
    a second row-scale shuffle for the join. Measured on the 10-feature
    spearman matrix at sf0.1: the join-back was 10 s of a 20 s pipeline.

    Correct under ties because RangePartitioning sends EQUAL keys to one
    partition: the per-(group, value) tie count is a within-partition
    window, and the cumulative count uses a RANGE frame (orderBy value),
    so every tied row sees the same inclusive count C — rank =
    C + offset − (t−1)/2, identical to the distinct-value construction.
    Rows need NOT be unique in (group, order), unlike
    :func:`grouped_range_prefix_sums`."""
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    range_cols = [F.col(c) for c in group_cols] + [F.col(order_col)]
    part = df.repartitionByRange(num_partitions, *range_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # same two-branch boundary pin as grouped_range_prefix_sums (see the
    # CORRECTNESS comment there): local windows and totals must observe
    # ONE physical range partitioning
    part = scoped_checkpoint(part, eager=False)
    w_cum = (
        Window.partitionBy(*group_cols, "__pid")
        .orderBy(order_col)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tie = Window.partitionBy(*group_cols, "__pid", order_col)
    local = part.select(
        "*",
        F.count(F.lit(1)).over(w_cum).alias("__loc_cum"),
        F.count(F.lit(1)).over(w_tie).alias("__t"),
    )
    totals = part.groupBy(*group_cols, "__pid").agg(F.count(F.lit(1)).alias("__tot"))
    lower = totals.select(
        *[F.col(c).alias(f"__b_{c}") for c in group_cols],
        F.col("__pid").alias("__bpid"),
        F.col("__tot").alias("__btot"),
    )
    cond = F.col("__bpid") < F.col("__pid")
    for c in group_cols:
        cond = cond & (F.col(f"__b_{c}") == F.col(c))
    offsets = (
        totals.join(F.broadcast(lower), cond, "left")
        .groupBy(*group_cols, "__pid")
        .agg(F.coalesce(F.sum("__btot"), F.lit(0)).alias("__off"))
    )
    rank = (
        (F.col("__loc_cum") + F.col("__off")).cast("double")
        - (F.col("__t") - F.lit(1)) / F.lit(2.0)
    ).alias(out_col)
    return local.join(F.broadcast(offsets), [*group_cols, "__pid"]).select(
        *df.columns, rank
    )


def range_prefix_sums(
    df: DataFrame,
    order_col: str,
    sums: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Ungrouped form: inclusive running totals ordered by ``order_col``,
    equivalent to ``F.sum(src).over(Window.orderBy(order_col))`` per entry,
    without the single-partition bottleneck."""
    return grouped_range_prefix_sums(df, [], order_col, sums, num_partitions)


def ranked_by_value(
    df: DataFrame, value_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Distinct values of ``value_col`` with tie counts ``t`` and the
    average rank each value would get in the full frame (standard
    average-of-tied-ranks: ``cum_count - (t - 1)/2``). One groupBy + one
    distributed prefix sum — no global-sort window."""
    byval = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("t"))
    cum = range_prefix_sums(byval, value_col, {"__cum": "t"}, num_partitions)
    return cum.withColumn("avg_rank", F.col("__cum") - (F.col("t") - F.lit(1)) / F.lit(2.0)).drop(
        "__cum"
    )
