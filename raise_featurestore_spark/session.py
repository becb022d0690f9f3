"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on, ``os.sched_getaffinity``); the same configs are
what we would set on a real multi-executor cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing).
- Arrow on (fast toPandas / pandas_udf transfer).
- Session timezone pinned to UTC so naive parquet timestamps have stable
  wall-clock values across engines (the DuckDB oracle reads them naively).
- ``spark.sql.shuffle.partitions`` sized to the core count locally; on a
  cluster AQE coalescing makes the initial number less critical.
- ``spark.driver.memory`` from ``$SPARK_GRAFT_DRIVER_MEM``, else
  :func:`_default_driver_memory`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``min(16g, physical memory / 2)``. In local mode the driver JVM runs
    every task. With a maximum heap above the box's RAM (16g on a 15 GB
    box with no swap) the JVM may grow its heap instead of collecting
    until the OS kills it and the session is lost; with a heap inside RAM
    the collector runs in time and an oversized job fails with an
    OutOfMemoryError the caller sees. Half the RAM leaves the rest to the
    Python workers and the page cache."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, phys_mb // 2)}m"


def get_spark(app_name: str = "raise-featurestore-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the target partition SIZE when coalescing instead of
        # maximizing parallelism: small shuffles collapse to few tasks
        # (measured −30% on the mid-tier queries at sf0.1) while big data
        # still splits by advisory size — the right posture at every scale
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # testdata events.ts is TIMESTAMP(NANOS): Spark has no ns timestamp,
        # so read as long and convert (see tables.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Whole-stage codegen bails above this many referenced fields and
        # silently falls back to interpreted per-row eval. The default
        # (100) is far below a 10-feature correlation matrix's 45 corr()
        # aggregates (6 accumulators each, 270 buffer fields + inter-stage
        # rows): measured 3.4–25 s interpreted vs 1.3 s compiled at sf0.1
        # (400 still tripped the check on the partial-stage row). 1000
        # covers every wide-aggregate shape in the engine; generated code
        # is split into sub-methods by Spark, so large stages stay
        # JIT-able.
        .config("spark.sql.codegen.maxFields", "1000")
    )
    return builder.getOrCreate()
