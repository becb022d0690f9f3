"""Plan-time Spark jobs: jobs a query function launches before it returns
its DataFrame, i.e. before the caller's action. Counted as a probe would:
drain the listener bus, then compare the highest job id the status
tracker knows before and after the call."""

from __future__ import annotations

import pytest

from raise_featurestore_spark.functions.conf_scope import cache_scope
from tests.conftest import SF_DIR


def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def plan_jobs(spark, fn, sf_dir: str = SF_DIR) -> int:
    """Spark jobs launched while ``fn(spark, sf_dir)`` builds its plan."""
    with cache_scope():
        before = _last_job_id(spark)
        fn(spark, sf_dir)
        return _last_job_id(spark) - before


# (query, most plan-time jobs allowed): the exact kendall pair runs the
# two-feature matrix, whose marginal pass is its only eager work (5 jobs;
# the bound is under half the 27 of a dedicated pair kernel); the sampled
# query reads the parquet schema and nothing else. The correlation bounds
# are the counts measured at sf0.001 (the same as at sf0.01); the wide
# pair's include the grid kernel's eager cache fill and rank-map collect.
PLAN_JOBS_AT_MOST = [
    ("corr_kendall_full", 13),
    ("corr_kendall_sampled", 1),
    ("corr_matrix_wide", 5),
    ("corr_spearman_wide_grid", 5),
    ("corr_pearson_matrix", 1),
    ("corr_spearman", 3),
    ("corr_cross_group", 2),
]


@pytest.mark.parametrize("name,limit", PLAN_JOBS_AT_MOST)
def test_plan_time_jobs(spark, name, limit):
    import __spark_entry__ as em

    assert plan_jobs(spark, em.queries()[name]) <= limit
