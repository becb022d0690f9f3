"""Frozen map from each registered query to the engine module it calls into.

Every query wrapper lives in ``raise_featurestore_spark/queries.py``, so the
layer a query exercises is not visible from its registration. This map
names, for each query, the first engine module its wrapper calls (helpers
that every query shares -- ``tables``, ``io.cache``, ``functions.stable``,
``catalog.store`` -- are skipped). A query whose plan is written inline in
``queries.py`` maps to ``queries``. The map is frozen: a later change that
moves a query's implementation does not silently move its timings to
another layer.

A module's *package* is its first component (``dataprep.dedup`` ->
``dataprep``). ``corpus_curation`` draws from the ``dataprep`` package and
``analytics_interactive`` from every other package.

Fixed operation sets. A full pass over every query does not fit the run
length (about 70 s for the 86 non-dataprep queries and 57 s for the 59
dataprep queries, warm, at sf0.01 on 4 cores, and twice that cold), so
each query workload runs a fixed subset chosen by this rule:

1. the operations ROADMAP item 3 targets: ``dedup_ngram_jaccard`` (3a) and
   the wide-matrix pair ``corr_matrix_wide``, ``corr_spearman_wide_grid``
   (3b), plus ``dedup_embedding_cosine``, the ``dataprep.similarity`` query
   on the embedding-LSH banded-pair path that ROADMAP item 2 rebuilds;
2. for each engine module the benchmark's layer list names (``LAYERS``)
   that no operation of step 1 already calls into, the module's cheapest
   query;
3. for each package that steps 1 and 2 leave without an operation, the
   package's cheapest query.

"Cheapest" is by the reference measurement: warm plan build + execution +
Arrow transfer at sf0.01 on local[4], the best of two warm runs, rounded to
10 ms; the seconds are listed next to each choice.

Named layers that no registered query calls into are measured otherwise:
``session`` by the set-up metrics, and ``io.writer``'s storage shape,
``analytics.record_lookup``'s point lookups and ``streaming.live_table``
by the feature-store operations of ``analytics_interactive``
(:mod:`workloads`). ``transforms.job`` and ``io.cache`` are not measured:
no registered query calls into them first, and ``io.cache`` is only
filled by ``prime_reference_artifacts`` (see below).

The other two ROADMAP slow operations are left out for run length:
``dedup_clusters`` costs about 15 s of a run (cold plus one steady pass),
and ``ann_ivf_batch_topk`` needs ``prime_reference_artifacts`` in every
run's empty artifact cache, about 20 s more. No operation is chosen or
dropped for being noisy.
"""

from __future__ import annotations

QUERY_MODULE: dict[str, str] = {
    "agg_cube_status_priority": "analytics.multidim",
    "agg_global_stats": "analytics.aggregation",
    "agg_global_stats_approx": "queries",
    "agg_null_profile": "analytics.aggregation",
    "agg_pivot_status_by_priority": "analytics.multidim",
    "agg_pricing_summary": "analytics.aggregation",
    "agg_rolling_by_type": "analytics.aggregation",
    "agg_rolling_daily": "analytics.aggregation",
    "agg_rollup_flag_status": "analytics.multidim",
    "agg_window_7d": "analytics.aggregation",
    "agg_winsorized_price": "analytics.outliers",
    "ann_bruteforce_topk": "dataprep.similarity",
    "ann_ivf_batch_topk": "dataprep.similarity",
    "ann_ivf_topk": "dataprep.similarity",
    "ann_lsh_bucket_topk": "dataprep.similarity",
    "asof_purchase_last_click": "functions.asof",
    "asof_salted_spine": "functions.asof",
    "boilerplate_ngram_mine": "dataprep.boilerplate",
    "bpe_pair_counts": "dataprep.bpe",
    "chunk_sliding_window": "dataprep.chunking",
    "cluster_balanced_sample": "dataprep.clustering",
    "cluster_kmeans_report": "dataprep.clustering",
    "cohort_retention_weekly": "analytics.funnel",
    "corpus_health_by_source": "dataprep.text",
    "corr_cross_group": "analytics.correlation",
    "corr_kendall_full": "analytics.kendall_full",
    "corr_kendall_matrix": "analytics.kendall_full",
    "corr_kendall_sampled": "analytics.correlation",
    "corr_kendall_wide": "analytics.kendall_full",
    "corr_matrix_wide": "analytics.correlation",
    "corr_pearson_matrix": "analytics.correlation",
    "corr_spearman": "analytics.correlation",
    "corr_spearman_wide_grid": "analytics.correlation",
    "decontaminate_benchmark": "dataprep.decontaminate",
    "dedup_clusters": "dataprep.dedup",
    "dedup_embedding_cosine": "dataprep.similarity",
    "dedup_exact_keepers": "dataprep.dedup",
    "dedup_incremental_batch": "dataprep.dedup",
    "dedup_minhash_lsh": "dataprep.dedup",
    "dedup_ngram_jaccard": "dataprep.dedup",
    "dedup_simhash_pairs": "dataprep.dedup",
    "dedup_substring_overlap": "dataprep.substring",
    "dist_cdf_segmented": "analytics.distribution",
    "dist_density": "analytics.distribution",
    "dist_histogram_price": "analytics.distribution",
    "dist_moments": "analytics.distribution",
    "dist_percentiles_by_segment": "analytics.distribution",
    "drift_order_status": "analytics.drift",
    "embedding_drift_mmd_linear": "analytics.drift",
    "embedding_drift_rff_mmd": "analytics.drift",
    "embedding_drift_sliced_w": "analytics.drift",
    "embedding_gram_check": "dataprep.pca",
    "embedding_pca_frobenius_check": "dataprep.pca",
    "embedding_pca_spectrum": "dataprep.pca",
    "embedding_pca_trace_check": "dataprep.pca",
    "expr_case_when": "expressions.compiler",
    "expr_cross_group_join": "queries",
    "expr_json_extract": "queries",
    "expr_window_lag": "expressions.compiler",
    "expr_zscore_hoisted": "expressions.compiler",
    "feature_decay_ewma": "dataprep.feature_eng",
    "feature_quantile_bins": "dataprep.feature_eng",
    "feature_sequence_history": "dataprep.feature_eng",
    "feature_standardize_robust": "dataprep.feature_eng",
    "feature_standardize_z": "dataprep.feature_eng",
    "feature_target_encode": "dataprep.feature_eng",
    "filter_quality_rules": "dataprep.filters",
    "forecast_backtest_naive": "analytics.forecast",
    "fp16_roundtrip_topk": "functions.fp16",
    "funnel_signup_view_purchase": "analytics.funnel",
    "funnel_within_7d": "analytics.funnel",
    "graph_pagerank_coparts": "analytics.graph",
    "inference_linear_batch": "transforms.inference",
    "job_incremental_checkpoint": "transforms.checkpoint",
    "job_quality_report": "transforms.observability",
    "job_upsert_merge": "io.writer",
    "join_anti_inactive_customers": "queries",
    "join_cardinality_events": "functions.join_estimate",
    "join_semi_high_value_customers": "queries",
    "join_tpch_q3_topk": "queries",
    "join_tpch_q5_region": "queries",
    "linkage_fuzzy_part_names": "dataprep.linkage",
    "lookup_filter_project": "analytics.record_lookup",
    "lookup_sample_events": "analytics.record_lookup",
    "lookup_topk_orders": "analytics.record_lookup",
    "mix_recipe_budget": "dataprep.mixing",
    "mix_temperature_sample": "dataprep.mixing",
    "multimodal_blob_refs": "dataprep.multimodal",
    "multimodal_byte_features": "dataprep.multimodal",
    "multimodal_frame_sample": "dataprep.multimodal",
    "multimodal_integrity": "dataprep.multimodal",
    "outlier_flags_iqr": "analytics.outliers",
    "outlier_flags_zscore": "analytics.outliers",
    "pack_context_windows": "dataprep.packing",
    "point_lookup_customer": "analytics.record_lookup",
    "profile_label_balance": "analytics.profile",
    "profile_table_events": "analytics.profile",
    "quality_fk_integrity": "analytics.quality",
    "quality_orders": "analytics.quality",
    "redact_pii": "dataprep.redact",
    "rollup_incremental_daily": "streaming.rollup",
    "rollup_percentile_daily": "streaming.rollup",
    "sample_exact_k_per_source": "dataprep.sampling",
    "sample_stratified_lang": "dataprep.sampling",
    "sample_weighted_aes": "dataprep.feature_eng",
    "select_token_budget": "dataprep.selection",
    "semantic_dedup_clusters": "dataprep.similarity",
    "set_except_churned_buyers": "queries",
    "set_intersect_retained_buyers": "queries",
    "shard_manifest": "dataprep.shards",
    "skew_report_orders": "analytics.skew_report",
    "source_columnar_pushdown": "transforms.source",
    "source_filesystem_jsonl": "transforms.source",
    "source_jdbc_query": "transforms.source",
    "source_objectstorage_csv": "transforms.source",
    "split_group_leakage_safe": "dataprep.sampling",
    "split_train_val_test": "dataprep.sampling",
    "stattest_anova": "analytics.stattest",
    "stattest_chi2": "analytics.stattest",
    "stattest_ks": "analytics.stattest",
    "stattest_mannwhitney": "analytics.stattest",
    "stattest_ttest": "analytics.stattest",
    "stattest_welch": "analytics.stattest",
    "stattest_welch_pvalue": "analytics.stattest",
    "text_encoding_report": "dataprep.text",
    "text_fingerprint": "dataprep.text",
    "text_language_id": "dataprep.text",
    "text_lm_perplexity": "dataprep.lm_score",
    "text_lm_score_pretrained": "dataprep.lm_score",
    "text_ppl_buckets": "dataprep.lm_score",
    "text_quality_score": "dataprep.text",
    "text_repetition": "dataprep.text",
    "text_tfidf_keywords": "dataprep.keywords",
    "text_token_counts": "dataprep.text",
    "text_vocab_topk": "dataprep.text",
    "transform_pandas_batch": "transforms.transform",
    "transform_sql_job": "transforms.transform",
    "vector_norm_dot": "functions.vector",
    "vector_quantize_int8": "dataprep.similarity",
    "vector_similarity_pairs": "functions.vector",
    "version_diff_value": "analytics.version_diff",
    "window_session_user": "streaming.windows",
    "window_sliding_6h": "streaming.windows",
    "window_tumbling_daily": "streaming.windows",
    "zorder_morton_orders": "io.zorder",
}

TARGETED = (
    "dedup_ngram_jaccard",
    "corr_matrix_wide",
    "corr_spearman_wide_grid",
    "dedup_embedding_cosine",
)

# The engine layers the benchmark names (a module, or a whole package).
LAYERS = (
    "analytics.aggregation",
    "analytics.correlation",
    "analytics.distribution",
    "analytics.record_lookup",
    "analytics.stattest",
    "dataprep.dedup",
    "dataprep.pca",
    "dataprep.similarity",
    "dataprep.text",
    "functions",
    "io.writer",
    "queries",
    "streaming.rollup",
)

# layer or package -> (its cheapest query, warm seconds in the reference
# measurement); the three layers the targeted queries cover have no entry
CHEAPEST: dict[str, tuple[str, float]] = {
    "analytics.aggregation": ("agg_null_profile", 0.57),
    "analytics.distribution": ("dist_percentiles_by_segment", 0.43),
    "analytics.record_lookup": ("lookup_topk_orders", 0.15),
    "analytics.stattest": ("stattest_ttest", 0.33),
    "dataprep.pca": ("embedding_pca_trace_check", 1.20),
    "dataprep.text": ("text_token_counts", 0.20),
    "functions": ("vector_norm_dot", 0.22),
    "io.writer": ("job_upsert_merge", 0.96),
    "queries": ("set_except_churned_buyers", 0.25),
    "streaming.rollup": ("rollup_percentile_daily", 0.62),
    # packages no layer above reaches
    "expressions": ("expr_case_when", 0.18),
    "transforms": ("source_columnar_pushdown", 0.15),
}


def package(query: str) -> str:
    return QUERY_MODULE[query].split(".")[0]


def in_scope(query: str, scope: str) -> bool:
    """Whether ``query`` calls into ``scope`` (a module or a package)."""
    module = QUERY_MODULE[query]
    return module == scope or module.startswith(scope + ".")


def operation_set(workload: str) -> list[str]:
    """The fixed query set of a query workload, in registry-name order."""
    if workload == "corpus_curation":
        wanted = lambda q: package(q) == "dataprep"  # noqa: E731
    elif workload == "analytics_interactive":
        wanted = lambda q: package(q) != "dataprep"  # noqa: E731
    else:
        raise ValueError(f"not a query workload: {workload!r}")
    return sorted(q for q in all_operations() if wanted(q))


def all_operations() -> set[str]:
    ops = set(TARGETED)
    for layer in LAYERS:
        if not any(in_scope(q, layer) for q in ops):
            ops.add(CHEAPEST[layer][0])
    for pkg in sorted({package(q) for q in QUERY_MODULE}):
        if pkg in CHEAPEST and not any(in_scope(q, pkg) for q in ops):
            ops.add(CHEAPEST[pkg][0])
    return ops


def modules_of(workloads: list[str]) -> list[str]:
    return sorted({QUERY_MODULE[q] for w in workloads for q in operation_set(w)})
