"""Empty-input robustness sweep: every registered query must either run
cleanly (usually to 0 rows) or fail with a DOCUMENTED, intentional guard —
never an engine error like DIVIDE_BY_ZERO or a lost schema. This is the
systematic form of the round-3 zero-token-slice bug class: operators built
on slices/ratios/inference must degrade, not crash, when a filter or an
upstream stage leaves nothing."""

from __future__ import annotations

import glob
import os

import pytest

from raise_featurestore_spark.functions.conf_scope import cache_scope

# queries that REQUIRE non-empty input by documented design; each raises an
# explicit, typed error (not an engine fault)
EXPECTED_GUARDS = {
    "ann_ivf_topk": ValueError,  # k-means quantizer needs >= k sample vectors
    "ann_ivf_batch_topk": ValueError,  # same quantizer guard, batch path
    "embedding_pca_spectrum": ValueError,  # pca_fit needs >= 2 vectors
    "embedding_pca_trace_check": ValueError,  # same pca_fit guard
    "embedding_pca_frobenius_check": ValueError,  # same pca_fit guard
}

# The banded bucket-pair kernels (dataprep.dedup._bucket_pairs) run in the
# default suite on every degenerate fixture; the constant fixture is their
# exact-dup megabucket case. ``-m slow`` sweeps the whole registry.
BANDED_PAIR_QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
    "semantic_dedup_clusters",
)
# One registered query per engine package (the first module its wrapper
# calls into), so every package meets the degenerate fixtures in the
# default run; the analytics pick caches through scoped_persist.
SMOKE_QUERIES = (
    "corr_spearman_wide_grid",  # analytics
    "dedup_incremental_batch",  # dataprep
    "expr_case_when",  # expressions
    "vector_norm_dot",  # functions
    "zorder_morton_orders",  # io
    "set_except_churned_buyers",  # queries
    "window_tumbling_daily",  # streaming
    "source_columnar_pushdown",  # transforms
)
SWEEPS = [
    pytest.param(BANDED_PAIR_QUERIES, id="banded_pairs"),
    pytest.param(SMOKE_QUERIES, id="smoke"),
    pytest.param(None, id="all", marks=pytest.mark.slow),
]


def swept_queries(names):
    """(name, fn) for the registered queries in ``names`` (None: all)."""
    import __spark_entry__ as em

    qs = em.queries()
    return sorted(qs.items()) if names is None else [(n, qs[n]) for n in names]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("sf_empty"))
    for p in glob.glob(os.path.join(src, "*.parquet")):
        out = os.path.join(dst, os.path.basename(p))
        spark.read.parquet(p).limit(0).coalesce(1).write.mode("overwrite").parquet(out)
    return dst


@pytest.mark.parametrize("names", SWEEPS)
def test_every_query_survives_empty_tables(spark, empty_sf_dir, names):
    failures = []
    for name, fn in swept_queries(names):
        try:
            with cache_scope():
                fn(spark, empty_sf_dir).count()
            if name in EXPECTED_GUARDS:
                failures.append(f"{name}: expected {EXPECTED_GUARDS[name].__name__}, ran clean")
        except Exception as ex:  # noqa: BLE001 - classifying failure modes
            if not isinstance(ex, EXPECTED_GUARDS.get(name, ())):
                failures.append(f"{name}: {type(ex).__name__}: {str(ex).splitlines()[0][:140]}")
    assert not failures, "\n".join(failures)
