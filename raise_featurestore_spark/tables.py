"""Test-data table loading helpers.

The driver generates TPC-H-ish parquet at ``/root/testdata/sf*/``:
``region nation customer supplier part orders lineitem events documents
embeddings``. We read each as a DataFrame.

At 100 TB these would be partitioned/clustered warehouse tables; reading
parquet directly keeps Catalyst's parquet scan (predicate pushdown, column
pruning, vectorized reader) on the fast path either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Timestamp columns in the driver's parquet. Current testdata stores them
# as TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads natively as
# TIMESTAMP_NTZ — the exact naive-wall-clock semantics the DuckDB oracle
# uses, so we keep them as-is (engine code uses NTZ-compatible functions,
# e.g. timestampdiff over unix_micros). Earlier generations stored
# TIMESTAMP(NANOS), which Spark can't represent: the nanosAsLong conf below
# surfaces those as long and we convert with integer division (a double
# division would lose precision at 2^60-scale nanos).
_NANO_TS_COLS = {"events": ("ts",)}

# Tables whose downstream operators are per-row COMPUTE heavy (shingle
# hashing, minhash permutations, vector math). The fixture parquet is one
# small file = one row group = ONE scan split, which would pin that compute
# to a single core on local[32]; when the scan yields fewer splits than the
# cluster has slots, fan out once after the scan. On a real lake the scan
# yields thousands of splits, the condition is false, and no shuffle is
# added — the repartition exists to emulate at fixture scale the
# parallelism that file splits provide at data scale.
_COMPUTE_HEAVY = {"documents", "embeddings"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver's parquet stores some columns as TIMESTAMP(NANOS), which
    # Spark can't represent natively; this runtime-settable, idempotent conf
    # makes the scan surface them as long nanos (converted to a µs timestamp
    # below). Set here so it holds in any session, including the driver's.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if name in _COMPUTE_HEAVY:
        df = fan_out_if_undersplit(df)
    return df


def fan_out_if_undersplit(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's slot count when the scan produced
    fewer file splits than slots — compute-heavy work downstream of a
    single-row-group fixture file would otherwise run on one core. The
    file count is a metadata-only split proxy (``df.rdd`` would force a
    plan-to-RDD conversion costing ~0.3 s of driver work per call); on a
    real lake scans yield thousands of files and this no-ops. Frames not
    backed by files (in-memory test data) are returned unchanged."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < slots:
        return df.repartition(slots)
    return df
