"""All-NULL-value robustness sweep: rows present, every non-key value
NULL.

Third shape in the degenerate-input family (empty rows / constant
values / NULL values). Distinct failure class: NULL reaches driver-side
collects (a NULL embedding must not reach a raw ``list(None)`` in the
k-means sampler) and Arrow-batched pandas UDFs (``.str.len()
.astype("int64")`` cannot hold NaN). Operators must degrade to
NULL/empty results or raise their DOCUMENTED guards — never an
engine/worker error. Keys stay real so joins and groupings still key.
"""

from __future__ import annotations

import glob
import os

import pytest

from raise_featurestore_spark.functions.conf_scope import cache_scope
from tests.test_empty_input import EXPECTED_GUARDS, SWEEPS, swept_queries


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("sf_nulls"))
    for p in glob.glob(os.path.join(src, "*.parquet")):
        df = spark.read.parquet(p)
        cols = [
            F.col(f.name)
            if (
                f.name.endswith("key")
                or f.name.endswith("_id")
                or f.name in ("doc_id", "vec_id", "event_id")
            )
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
        df.select(*cols).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(dst, os.path.basename(p))
        )
    return dst


@pytest.mark.parametrize("names", SWEEPS)
def test_every_query_survives_all_null_values(spark, null_sf_dir, names):
    failures = []
    for name, fn in swept_queries(names):
        try:
            with cache_scope():
                fn(spark, null_sf_dir).count()
        except Exception as ex:  # noqa: BLE001 - classifying failure modes
            if not isinstance(ex, EXPECTED_GUARDS.get(name, ())):
                failures.append(
                    f"{name}: {type(ex).__name__}: {str(ex).splitlines()[0][:140]}"
                )
    assert not failures, "\n".join(failures)
