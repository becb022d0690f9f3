"""Degenerate-value robustness sweep: every registered query must survive
tables whose every column is CONSTANT (one value, full row count).

This is the sibling of test_empty_input.py for the zero-VARIANCE class:
Spark 4 runs ANSI mode by default, where ANY division whose divisor
evaluates to zero is a hard job failure — not just integer division.
Zero-variance slices hit exactly those divisors: Corr's final division
(guarded by the bounds check in analytics/correlation.py), z-score stddev denominators, rate/ratio
denominators over single-class data. A 100 TB pipeline meets this shape
whenever a slice filter lands on a single day / single status / single
vendor; operators must degrade (NULL / empty / one bucket), never fail
the job.

Constants are chosen to maximize degeneracy: one double, one int, one
string, one timestamp, one embedding vector everywhere.
"""

from __future__ import annotations

import glob
import os

import pytest

from raise_featurestore_spark.functions.conf_scope import cache_scope
from tests.test_empty_input import EXPECTED_GUARDS, SWEEPS, swept_queries


@pytest.fixture(scope="module")
def degen_sf_dir(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("sf_degen"))
    for p in glob.glob(os.path.join(src, "*.parquet")):
        df = spark.read.parquet(p)
        cols = []
        for f in df.schema.fields:
            t = f.dataType
            if isinstance(t, (T.DoubleType, T.FloatType)):
                c = F.lit(5.0).cast(t)
            elif isinstance(t, (T.LongType, T.IntegerType, T.ShortType)):
                c = F.lit(3).cast(t)
            elif isinstance(t, T.StringType):
                c = F.lit("konst konst konst konst konst")
            elif isinstance(t, T.TimestampNTZType):
                c = F.lit("2024-06-15 12:00:00").cast("timestamp_ntz")
            elif isinstance(t, T.TimestampType):
                c = F.lit("2024-06-15 12:00:00").cast("timestamp")
            elif isinstance(t, T.ArrayType):
                c = F.expr("transform(sequence(1, 64), i -> CAST(0.5 AS FLOAT))").cast(t)
            else:
                c = F.col(f.name)
            cols.append(c.alias(f.name))
        df.select(*cols).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dst, os.path.basename(p))
        )
    return dst


@pytest.mark.parametrize("names", SWEEPS)
def test_every_query_survives_constant_tables(spark, degen_sf_dir, names):
    failures = []
    for name, fn in swept_queries(names):
        try:
            with cache_scope():
                fn(spark, degen_sf_dir).count()
        except Exception as ex:  # noqa: BLE001 - classifying failure modes
            # the empty-input guards are count-based, so constant (but
            # populated) tables satisfy them; only documented guards pass
            if not isinstance(ex, EXPECTED_GUARDS.get(name, ())):
                failures.append(
                    f"{name}: {type(ex).__name__}: {str(ex).splitlines()[0][:140]}"
                )
    assert not failures, "\n".join(failures)
