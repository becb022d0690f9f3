"""Executor-materialization ownership: ``scoped_persist`` and
``scoped_checkpoint`` register a frame with the innermost open
``cache_scope()``, which releases it when the block exits. A scoped query
leaves both the session's CacheManager and ``getPersistentRDDs()`` (which
also lists local-checkpoint RDDs) where they were before it ran."""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark import StorageLevel

import raise_featurestore_spark
from raise_featurestore_spark.functions.conf_scope import (
    cache_scope,
    scoped_checkpoint,
    scoped_persist,
)

from tests.conftest import SF_DIR
from tests.test_empty_input import SMOKE_QUERIES

# the iterative and checkpointing kernels, beside one query per package
LEAK_QUERIES = SMOKE_QUERIES + (
    "dedup_clusters",
    "graph_pagerank_coparts",
    "corr_kendall_full",
    "stattest_ks",
    "decontaminate_benchmark",
    "text_lm_perplexity",
    "ann_ivf_batch_topk",
    "job_upsert_merge",
    "cluster_kmeans_report",
)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


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


def test_scope_releases_checkpoints_after_the_action(clean):
    spark = clean
    before = _persistent_rdds(spark)
    for eager in (True, False):
        with cache_scope():
            df = scoped_checkpoint(spark.range(100).selectExpr("id * 2 AS x"), eager)
            assert df.count() == 100
            assert _persistent_rdds(spark) - before
        assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("name", LEAK_QUERIES)
def test_scoped_query_leaves_no_materialization(clean, name):
    import __spark_entry__ as em

    spark = clean
    before = _persistent_rdds(spark)
    with cache_scope():
        em.queries()[name](spark, SF_DIR).toPandas()
    assert _persistent_rdds(spark) == before
    assert _cache_empty(spark)


def _leaves(plan) -> list:
    """Leaf nodes of a physical plan, looking through adaptive execution."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def test_kmeans_final_assignment_reads_the_cache(clean):
    import __spark_entry__ as em

    spark = clean
    with cache_scope():
        df = em.queries()["cluster_kmeans_report"](spark, SF_DIR)
        (scan,) = _leaves(df._jdf.queryExecution().executedPlan())
        assert scan.nodeName() == "InMemoryTableScan"
        cached = [leaf.nodeName().strip() for leaf in _leaves(scan.relation().cachedPlan())]
        assert cached == ["Scan parquet"]
        df.toPandas()
    assert _cache_empty(spark)


def test_engine_materializes_only_through_conf_scope():
    """``.persist(`` and ``.localCheckpoint(`` calls live only in the two
    scoped helpers, and ``.cache(`` / ``.checkpoint(`` nowhere, so every
    executor-side copy has an owning scope."""
    root = os.path.dirname(raise_featurestore_spark.__file__)
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        if path.endswith(os.path.join("functions", "conf_scope.py")):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        offenders += [
            f"{os.path.relpath(path, root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache", "localCheckpoint", "checkpoint")
        ]
    assert not offenders, offenders
