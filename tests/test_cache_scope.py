"""Executor-cache ownership: ``scoped_persist`` registers a frame with the
innermost open ``cache_scope()``, which unpersists it when the block
exits. The checks read the session's CacheManager, not
``getPersistentRDDs()``: lazy ``localCheckpoint`` RDDs elsewhere in the
engine show up there too, until a driver GC reclaims them."""

from __future__ import annotations

import os

import pytest
from pyspark import StorageLevel

from raise_featurestore_spark.functions.conf_scope import cache_scope, scoped_persist

from tests.conftest import SF_DIR


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


@pytest.fixture()
def clean(spark):
    spark.catalog.clearCache()
    yield spark
    spark.catalog.clearCache()


def test_scope_releases_jaccard_caches_and_keeps_rows(clean):
    from raise_featurestore_spark.dataprep.dedup import jaccard_pairs

    spark = clean
    base = "the common boilerplate header text appears everywhere "
    rows = [(g * 10 + i, base + f"group {g} body {'x' * i}") for g in range(3) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    with cache_scope():
        scoped = jaccard_pairs(df, threshold=0.5, max_df=12).toPandas()
        assert not _cache_empty(spark)
    assert _cache_empty(spark)

    unscoped = jaccard_pairs(df, threshold=0.5, max_df=12).toPandas()
    key = ["id_a", "id_b"]
    assert len(scoped) > 0
    assert scoped.sort_values(key, ignore_index=True).equals(
        unscoped.sort_values(key, ignore_index=True)
    )


def test_nested_scope_releases_only_its_own_frames(clean):
    spark = clean
    with cache_scope():
        outer = scoped_persist(spark.range(10).selectExpr("id AS outer_id"))
        with cache_scope():
            inner = scoped_persist(spark.range(20).selectExpr("id AS inner_id"))
            assert _cached(outer) and _cached(inner)
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)
    assert _cache_empty(spark)


def test_unscoped_persist_stays_cached(clean):
    df = scoped_persist(clean.range(10).selectExpr("id AS unscoped_id"))
    with cache_scope():
        pass  # a scope opened later does not own it
    assert _cached(df)


def test_analyze_spearman_leaves_no_cache(clean):
    from raise_featurestore_spark.analytics.analysis import Correlation
    from raise_featurestore_spark.analytics.result import AnalyticsClient

    spark = clean
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    spec = Correlation(features=["o_totalprice", "o_custkey", "o_orderkey"], method="spearman")
    res = AnalyticsClient().analyze(orders, spec)
    assert res.row_count == 6  # 3 diagonal cells + C(3, 2) pairs
    assert _cache_empty(spark)
