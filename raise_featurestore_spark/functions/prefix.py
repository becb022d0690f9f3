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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.conf_scope import scoped_checkpoint


def _range_scan(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    local,
    totals: dict[str, Column],
    num_partitions: int | None,
) -> DataFrame:
    """Steps 1-3 of the module docstring. Returns ``df`` with ``__pid``,
    the window columns ``local(w)`` builds from ``w`` (partitioned by
    group and range partition, ordered by ``order_col``), and one
    ``__off_{name}`` per ``totals`` aggregate: its value over all EARLIER
    range partitions of the row's group (0 for the first)."""
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    range_cols = [F.col(c) for c in group_cols] + [F.col(order_col)]
    part = df.repartitionByRange(num_partitions, *range_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # CORRECTNESS: the local-window branch and the totals branch below both
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
    keys = [*group_cols, "__pid"]
    tot = part.groupBy(*keys).agg(*[agg.alias(f"__tot_{n}") for n, agg in totals.items()])
    lower = tot.select(
        *[F.col(c).alias(f"__b_{c}") for c in group_cols],
        F.col("__pid").alias("__bpid"),
        *[F.col(f"__tot_{n}").alias(f"__btot_{n}") for n in totals],
    )
    cond = F.col("__bpid") < F.col("__pid")
    for c in group_cols:
        cond = cond & (F.col(f"__b_{c}") == F.col(c))
    offsets = (
        tot.join(F.broadcast(lower), cond, "left")
        .groupBy(*keys)
        .agg(
            *[
                F.coalesce(F.sum(f"__btot_{n}"), F.lit(0)).alias(f"__off_{n}")
                for n in totals
            ]
        )
    )
    w = Window.partitionBy(*keys).orderBy(order_col)
    return part.select("*", *local(w)).join(F.broadcast(offsets), keys)


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
    rows = (Window.unboundedPreceding, Window.currentRow)
    scanned = _range_scan(
        df,
        group_cols,
        order_col,
        lambda w: [
            F.sum(src).over(w.rowsBetween(*rows)).alias(f"__loc_{out}")
            for out, src in sums.items()
        ],
        {out: F.sum(src) for out, src in sums.items()},
        num_partitions,
    )
    return scanned.select(
        *df.columns,
        *[(F.col(f"__loc_{out}") + F.col(f"__off_{out}")).alias(out) for out in sums],
    )


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
    one = F.count(F.lit(1))
    w_tie = Window.partitionBy(*group_cols, "__pid", order_col)
    scanned = _range_scan(
        df,
        group_cols,
        order_col,
        lambda w: [
            one.over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("__loc_cum"),
            one.over(w_tie).alias("__t"),
        ],
        {"cum": one},
        num_partitions,
    )
    rank = (
        (F.col("__loc_cum") + F.col("__off_cum")).cast("double")
        - (F.col("__t") - F.lit(1)) / F.lit(2.0)
    ).alias(out_col)
    return scanned.select(*df.columns, rank)


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
