"""Differential test: every registered query vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS gate (row count + columns + values) at
sf0.001 for speed; the driver re-runs at sf0.01.
"""

from __future__ import annotations

import pytest

from raise_featurestore_spark.functions.conf_scope import cache_scope
from tests.conftest import SF_DIR, assert_frames_match

import __spark_entry__ as entrymod


def _cases():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    return [(name, qs[name], oracles.get(name)) for name in sorted(qs)]


@pytest.mark.parametrize("name,fn,sql", _cases(), ids=[c[0] for c in _cases()])
def test_query_matches_oracle(spark, ddb, name, fn, sql):
    with cache_scope():
        df = fn(spark, SF_DIR)
        if sql is None:
            # weaker rows-only check for non-SQL-expressible ops
            assert df.count() >= 0
            return
        con = ddb(SF_DIR)
        want = con.sql(sql).df()
        assert_frames_match(df, want)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) > 0
