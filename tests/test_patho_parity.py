"""Cross-engine parity on pathological text: empty, whitespace-only,
punctuation-only, single-token, unicode, and control-character documents
must hash identically between the Spark operators and their DuckDB twins —
the regex/tokenizer edge where Java and RE2 semantics could diverge."""

from __future__ import annotations

import duckdb
import pytest

PATHO_ROWS = [
    (1, "", "en", "srcA", 0),
    (2, "   ", "en", "srcA", 3),
    (3, "x", "fr", "srcB", 1),
    (4, "!!! ... ???", "en", "srcB", 11),
    (5, "短 文 テスト", "de", "srcA", 6),
    (6, "a b", "en", "srcB", 3),
    (7, "\t\n", "es", "srcA", 2),
    (8, "word word word ", "en", "srcB", 15),
]
SCHEMA = "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT"


@pytest.fixture(scope="module")
def patho(spark):
    df = spark.createDataFrame(
        PATHO_ROWS, "doc_id long, text string, lang string, source string, n_chars long"
    )
    con = duckdb.connect()
    con.execute(f"CREATE TABLE documents({SCHEMA})")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", PATHO_ROWS)
    return df, con


def _assert_parity(spark_df, con, sql):
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    from driver_sim import canon

    g = canon(spark_df.toPandas())
    w = canon(con.sql(sql).df())
    assert g == w, f"spark={g[:2]} oracle={w[:2]}"


def test_repetition_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.text import (
        repetition_metrics,
        repetition_metrics_sql,
    )

    df, con = patho
    _assert_parity(repetition_metrics(df), con, repetition_metrics_sql("documents"))


def test_language_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.text import (
        detect_language,
        detect_language_sql,
    )

    df, con = patho
    _assert_parity(detect_language(df), con, detect_language_sql("documents"))


def test_fingerprint_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.text import fingerprint, fingerprint_sql

    df, con = patho
    _assert_parity(fingerprint(df), con, fingerprint_sql("documents"))


def test_packing_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.packing import (
        PackingSpec,
        pack_documents,
        pack_documents_sql,
    )

    df, con = patho
    spec = PackingSpec(window_tokens=4)
    _assert_parity(pack_documents(df, spec), con, pack_documents_sql("documents", spec))


def test_quality_filter_report_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.filters import (
        QualityRules,
        quality_filter_report,
        quality_filter_report_sql,
    )

    df, con = patho
    rules = QualityRules(min_tokens=1)
    _assert_parity(
        quality_filter_report(df, rules),
        con,
        quality_filter_report_sql("documents", rules),
    )


def test_chunking_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.chunking import (
        chunk_documents,
        chunk_documents_sql,
    )

    df, con = patho
    _assert_parity(
        chunk_documents(df, window=3, stride=2),
        con,
        chunk_documents_sql("documents", window=3, stride=2),
    )


def test_boilerplate_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.boilerplate import (
        mine_boilerplate,
        mine_boilerplate_sql,
    )

    df, con = patho
    _assert_parity(
        mine_boilerplate(df, n=2, min_df=1, top_k=50),
        con,
        mine_boilerplate_sql("documents", n=2, min_df=1, top_k=50),
    )


def test_selection_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.selection import (
        select_token_budget,
        select_token_budget_sql,
    )

    df, con = patho
    _assert_parity(
        select_token_budget(df, budget=100),
        con,
        select_token_budget_sql("documents", budget=100),
    )


def test_shards_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.shards import (
        shard_manifest,
        shard_manifest_sql,
    )

    df, con = patho
    _assert_parity(
        shard_manifest(df, n_shards=3), con, shard_manifest_sql("documents", n_shards=3)
    )


def test_exact_k_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.sampling import (
        exact_k_per_stratum,
        exact_k_per_stratum_sql,
    )

    df, con = patho
    _assert_parity(
        exact_k_per_stratum(df, "doc_id", "source", k=2),
        con,
        exact_k_per_stratum_sql("documents", "doc_id", "source", k=2),
    )


def test_exact_dedup_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.dedup import (
        exact_duplicates,
        exact_duplicates_sql,
    )

    df, con = patho
    _assert_parity(
        exact_duplicates(df, only_dups=False), con,
        exact_duplicates_sql("documents", only_dups=False),
    )


def test_minhash_parity_pathological(patho):
    from raise_featurestore_spark.dataprep.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_sql,
    )
    from raise_featurestore_spark.functions.conf_scope import cache_scope

    df, con = patho
    with cache_scope():
        _assert_parity(
            minhash_lsh_pairs(df, k=8, bands=2, min_est=0.5),
            con,
            minhash_lsh_pairs_sql("documents", k=8, bands=2, min_est=0.5),
        )
