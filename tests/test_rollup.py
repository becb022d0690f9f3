"""Incremental rollup: merge associativity/commutativity, NaN poison
propagation through merges, and bit-equality with a from-scratch rebuild
under arbitrary batching."""

from __future__ import annotations

import math

import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    from raise_featurestore_spark.tables import load_table

    return load_table(spark, SF_DIR, "events")


def _finalized_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


def test_incremental_equals_recompute_any_batching(spark, events):
    from raise_featurestore_spark.streaming.rollup import (
        finalize_rollup,
        merge_rollups,
        rollup_partials,
    )

    metrics = ["count", "sum", "avg", "stddev", "min", "max"]
    full = finalize_rollup(rollup_partials(events, "value"), metrics)
    want = _finalized_rows(full)

    # three different batchings, including a 3-way merge
    for splits in (["event_id % 2 = 0", "event_id % 2 = 1"],
                   ["event_id % 3 = 0", "event_id % 3 = 1", "event_id % 3 = 2"]):
        parts = [rollup_partials(events.where(s), "value") for s in splits]
        merged = parts[0]
        for p in parts[1:]:
            merged = merge_rollups(merged, p)
        got = _finalized_rows(finalize_rollup(merged, metrics))
        assert got == want, splits


def test_merge_preserves_poison_and_empty_delta(spark):
    from pyspark.sql import functions as F

    from raise_featurestore_spark.streaming.rollup import (
        finalize_rollup,
        merge_rollups,
        rollup_partials,
    )

    rows = [("2026-01-01 00:00:00", 1.0), ("2026-01-01 12:00:00", float("nan")),
            ("2026-01-02 00:00:00", 2.0)]
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    clean = rollup_partials(df.where("value = 2.0 OR value = 1.0"), "value")
    dirty = rollup_partials(df.where("ISNAN(value)"), "value")
    out = {
        r.period_start: r
        for r in finalize_rollup(
            merge_rollups(clean, dirty), ["sum", "stddev"]
        ).collect()
    }
    assert math.isnan(out["2026-01-01"].sum_value)  # poison survives merge
    assert out["2026-01-02"].sum_value == 2.0
    # merging an empty delta is the identity
    empty = rollup_partials(df.where("value < -1e9"), "value")
    out2 = finalize_rollup(merge_rollups(clean, empty), ["sum"]).collect()
    assert {r.period_start: r.sum_value for r in out2} == {
        "2026-01-01": 1.0, "2026-01-02": 2.0,
    }


def test_streaming_rollup_matches_batch_recompute(spark, events, tmp_path):
    """maxFilesPerTrigger=1 forces multiple micro-batches; the maintained
    partial table must finalize to exactly the one-shot batch rollup."""
    from raise_featurestore_spark.streaming.rollup import (
        finalize_rollup,
        rollup_partials,
        rollup_stream,
    )

    src = str(tmp_path / "src")
    # several input files -> several micro-batches
    events.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    state = str(tmp_path / "state")
    chk = str(tmp_path / "chk")
    q = (
        rollup_stream(stream, spark, state, chk, "value")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = _finalized_rows(
        finalize_rollup(
            spark.read.parquet(state + "/live"), ["count", "sum", "avg", "stddev"]
        )
    )
    want = _finalized_rows(
        finalize_rollup(rollup_partials(events, "value"), ["count", "sum", "avg", "stddev"])
    )
    assert got == want and len(got) > 0


def test_rollup_hourly_bucket_not_collapsed(spark):
    from pyspark.sql import functions as F

    from raise_featurestore_spark.streaming.rollup import (
        finalize_rollup,
        rollup_partials,
    )

    rows = [("2026-01-01 01:10:00", 1.0), ("2026-01-01 17:20:00", 2.0)]
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    out = {r.period_start: r.sum_value for r in finalize_rollup(
        rollup_partials(df, "value", bucket="hour"), ["sum"]
    ).collect()}
    assert out == {"2026-01-01 01:00": 1.0, "2026-01-01 17:00": 2.0}
    with pytest.raises(ValueError, match="unsupported rollup bucket"):
        rollup_partials(df, "value", bucket="second")


def test_streaming_rollup_recovers_interrupted_swap(spark, events, tmp_path):
    """live/ missing with history in old-*: the next batch must restore
    the displaced generation, not silently re-seed from its own delta."""
    import os

    from raise_featurestore_spark.streaming.rollup import (
        finalize_rollup,
        make_rollup_batch_fn,
        rollup_partials,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    fn = make_rollup_batch_fn(spark, state, "value")
    half_a = events.where("event_id % 2 = 0")
    half_b = events.where("event_id % 2 = 1")
    fn(half_a, 0)
    # simulate a crash mid-swap: live got renamed away, stage never landed
    os.rename(os.path.join(state, "live"), os.path.join(state, "old-1"))
    fn(half_b, 1)
    got = _finalized_rows(
        finalize_rollup(spark.read.parquet(state + "/live"), ["count", "sum"])
    )
    want = _finalized_rows(
        finalize_rollup(rollup_partials(events, "value"), ["count", "sum"])
    )
    assert got == want


def test_streaming_rollup_replay_is_idempotent(spark, events, tmp_path):
    """r5 ADVICE finding: a batch replayed after the swap landed but before
    the streaming checkpoint committed must NOT re-merge its delta — the
    _applied_batch marker (installed atomically with the swap) skips it."""
    import os

    from raise_featurestore_spark.streaming.rollup import (
        finalize_rollup,
        make_rollup_batch_fn,
        rollup_partials,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    fn = make_rollup_batch_fn(spark, state, "value")
    half_a = events.where("event_id % 2 = 0")
    half_b = events.where("event_id % 2 = 1")
    fn(half_a, 0)
    fn(half_b, 1)
    want = _finalized_rows(
        finalize_rollup(spark.read.parquet(state + "/live"), ["count", "sum"])
    )
    fn(half_b, 1)  # checkpoint-uncommitted crash => Structured Streaming replay
    got = _finalized_rows(
        finalize_rollup(spark.read.parquet(state + "/live"), ["count", "sum"])
    )
    assert got == want
    # and equals a from-scratch recompute (nothing double-counted)
    assert got == _finalized_rows(
        finalize_rollup(rollup_partials(events, "value"), ["count", "sum"])
    )


def test_rollup_underflow_poisons_across_merged_batches(spark):
    """The underflow sentinel holds through incremental merging: two
    batches of sub-grid values fold into bucket totals whose majority test
    fires at finalize (NaN, never a silent 0.0)."""
    import math

    from raise_featurestore_spark.streaming.rollup import (
        finalize_rollup,
        merge_rollups,
        rollup_partials,
    )

    from pyspark.sql import functions as F

    def batch(vals):
        rows = [(f"2026-02-0{1 + i % 2} 08:00:00", v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "ts string, v double").withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        return rollup_partials(df, "v")

    tiny = merge_rollups(batch([1e-5] * 20), batch([2e-5] * 20))
    out = finalize_rollup(tiny, ["sum", "avg", "count"]).collect()
    assert all(math.isnan(r.sum_value) and math.isnan(r.avg_value) for r in out)
    assert all(r.count_value > 0 for r in out)  # counts stay exact

    # normal-scale data through the same path stays finite
    ok = merge_rollups(batch([1.5] * 10), batch([2.5] * 10))
    fin = finalize_rollup(ok, ["sum"]).collect()
    assert all(not math.isnan(r.sum_value) for r in fin)


def test_percentile_rollup_merge_invariance(spark):
    """r8: the grid-histogram percentile partials must finalize to the
    SAME quantiles regardless of how arrivals were batched, and match a
    from-scratch build; quantiles land on the sig-3 grid with type-1
    (lower) semantics."""
    import datetime

    from raise_featurestore_spark.streaming.rollup import (
        finalize_percentile_rollup,
        merge_percentile_rollups,
        percentile_partials,
    )

    base = datetime.datetime(2026, 1, 1)
    rows = [
        (i, base + datetime.timedelta(hours=i % 48), float(v))
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0] * 40)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")

    direct = finalize_percentile_rollup(percentile_partials(df, "value"))
    got_direct = {r.period_start: (r.n, r.p50, r.p95) for r in direct.collect()}

    # three-way arbitrary batching -> identical finalize
    a = percentile_partials(df.where("event_id % 3 = 0"), "value")
    b = percentile_partials(df.where("event_id % 3 = 1"), "value")
    c = percentile_partials(df.where("event_id % 3 = 2"), "value")
    merged = merge_percentile_rollups(merge_percentile_rollups(a, b), c)
    got_inc = {
        r.period_start: (r.n, r.p50, r.p95)
        for r in finalize_percentile_rollup(merged).collect()
    }
    assert got_inc == got_direct

    # type-1 semantics: the ceil(q·n)-th smallest raw value, per day
    import math
    from collections import defaultdict

    by_day = defaultdict(list)
    for _, ts, v in rows:
        by_day[ts.strftime("%Y-%m-%d")].append(v)
    for day, (n, p50, p95) in got_direct.items():
        vals = sorted(by_day[day])
        assert n == len(vals)
        assert p50 == vals[math.ceil(0.5 * n) - 1], (day, n, p50)
        assert p95 == vals[math.ceil(0.95 * n) - 1], (day, n, p95)

    # non-finite rows are excluded from the distribution
    bad = spark.createDataFrame(
        [(0, base, float("nan")), (1, base, float("inf")), (2, base, 7.0)],
        "event_id long, ts timestamp, value double",
    )
    out = finalize_percentile_rollup(percentile_partials(bad, "value")).collect()
    assert len(out) == 1 and out[0].n == 1 and out[0].p50 == 7.0


def test_percentile_rollup_streaming_batches(spark, tmp_path):
    """The foreachBatch percentile maintainer: batches merge into the
    live grid-histogram state; finalize matches a from-scratch build;
    a checkpoint-replayed batch_id is a no-op."""
    import datetime

    from raise_featurestore_spark.streaming.rollup import (
        finalize_percentile_rollup,
        make_percentile_rollup_batch_fn,
        percentile_partials,
    )

    base = datetime.datetime(2026, 2, 1)
    rows = [
        (i, base + datetime.timedelta(hours=i % 24), float((i % 9) + 1))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    state = str(tmp_path / "pct_state")
    fn = make_percentile_rollup_batch_fn(spark, state, "value")
    fn(df.where("event_id < 120"), 0)
    fn(df.where("event_id >= 120"), 1)
    fn(df.where("event_id >= 120"), 1)  # replayed batch: must be a no-op

    live = spark.read.parquet(state + "/live")
    got = {
        r.period_start: (r.n, r.p50, r.p95)
        for r in finalize_percentile_rollup(live).collect()
    }
    want = {
        r.period_start: (r.n, r.p50, r.p95)
        for r in finalize_percentile_rollup(
            percentile_partials(df, "value")
        ).collect()
    }
    assert got == want


def test_merge_refuses_pre_r8_value_scale_partials(spark, events):
    """Union coercion silently widens decimal(28,0) vs decimal(28,4)
    instead of erroring, so merging value-scale (decimal scale 4/8)
    partials would corrupt sums with no poison. merge_rollups must raise
    on them, whichever side they arrive on."""
    from pyspark.sql import functions as F

    from raise_featurestore_spark.streaming.rollup import (
        merge_rollups,
        rollup_partials,
    )

    new = rollup_partials(events.where("event_id % 2 = 0"), "value")
    # reconstruct the pre-r8 dec_term layout: s1/ss at VALUE scale,
    # decimal(28,4)/(38,8) — numerically identical content, old format
    old = rollup_partials(events.where("event_id % 2 = 1"), "value")
    old_fmt = old.withColumn(
        "s1", (F.col("s1").cast("decimal(38,10)") / F.lit(10**4)).cast("decimal(28,4)")
    ).withColumn(
        "ss", (F.col("ss").cast("decimal(38,8)") / F.lit(10**8)).cast("decimal(38,8)")
    )
    with pytest.raises(ValueError, match="pre-r8 dec_term"):
        merge_rollups(new, old_fmt)
    with pytest.raises(ValueError, match="pre-r8 dec_term"):
        merge_rollups(old_fmt, new)


def test_streaming_rollup_format_marker(spark, events, tmp_path):
    """The live generation carries a _format_version stamp installed by
    the same atomic rename as the data; a maintainer with a different
    format refuses to merge onto it instead of corrupting silently."""
    import os

    from raise_featurestore_spark.streaming.rollup import (
        _FORMAT_MOMENTS,
        make_percentile_rollup_batch_fn,
        make_rollup_batch_fn,
    )

    state = str(tmp_path / "state")
    os.makedirs(state)
    fn = make_rollup_batch_fn(spark, state, "value")
    fn(events.where("event_id % 2 = 0"), 0)
    live = os.path.join(state, "live")
    with open(os.path.join(live, "_format_version")) as fh:
        assert fh.read() == _FORMAT_MOMENTS

    # a percentile maintainer pointed at the SAME state dir must refuse
    pfn = make_percentile_rollup_batch_fn(spark, state, "value")
    with pytest.raises(ValueError, match="Refusing to merge"):
        pfn(events.where("event_id % 2 = 1"), 1)

    # the moments maintainer keeps going fine
    fn(events.where("event_id % 2 = 1"), 1)
    with open(os.path.join(live, "_format_version")) as fh:
        assert fh.read() == _FORMAT_MOMENTS


def test_percentile_q_labels_exact(spark):
    """r8 ADVICE low: labels derive from the exact q, not a rounded
    percent — q=0.125 is p12_5 (was p12 under banker's rounding), qs
    that round to the same integer percent no longer collide, and true
    duplicates raise."""
    from raise_featurestore_spark.streaming.rollup import _q_labels

    assert _q_labels((0.5, 0.95, 0.99)) == ["p50", "p95", "p99"]
    assert _q_labels((0.05,)) == ["p05"]
    assert _q_labels((0.125,)) == ["p12_5"]
    assert _q_labels((0.954, 0.955)) == ["p95_4", "p95_5"]
    with pytest.raises(ValueError, match="duplicate"):
        _q_labels((0.5, 0.5))
    with pytest.raises(ValueError, match="out of range"):
        _q_labels((1.5,))

    # end-to-end: the finalized frame and the SQL twin agree on names
    from raise_featurestore_spark.streaming.rollup import (
        finalize_percentile_rollup,
        percentile_partials,
        percentile_recompute_sql,
    )

    rows = [("2026-01-01 00:00:00", float(v)) for v in range(1, 41)]
    df = spark.createDataFrame(rows, "ts string, value double").selectExpr(
        "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value"
    )
    out = finalize_percentile_rollup(
        percentile_partials(df, "value"), qs=(0.125, 0.5)
    )
    assert out.columns == ["period_start", "n", "p12_5", "p50"]
    sql = percentile_recompute_sql("t", "value", qs=(0.125, 0.5))
    assert "p12_5" in sql and "p50" in sql


@pytest.mark.slow
def test_streaming_rollup_multibatch_soak_with_replays_and_crash(spark, tmp_path):
    """r10 VERDICT item 6: soak the staged-swap state machine — 50
    foreachBatch cycles through BOTH sketch families (moments +
    percentile grid) with periodic checkpoint-replays and one injected
    mid-swap crash each, asserting the final live state still equals a
    from-scratch recompute row-for-row. The single-cycle replay/crash
    tests pin each transition once; this pins that the transitions
    COMPOSE (a replay after a crash after 30 merges is still exact)."""
    import os

    from pyspark.sql import functions as F

    from raise_featurestore_spark.streaming.rollup import (
        finalize_percentile_rollup,
        finalize_rollup,
        make_percentile_rollup_batch_fn,
        make_rollup_batch_fn,
        percentile_partials,
        rollup_partials,
    )

    n_batches = 50
    base = (
        spark.range(2000)
        .selectExpr(
            "id",
            "timestamp_ntz '2026-03-01 00:00:00' + make_interval(0,0,0,0,0,0, id*97) AS ts",
            "CAST(((id * 37) % 1000) AS DOUBLE) / 8.0 AS value",
        )
        .persist()
    )
    base.count()

    m_state = str(tmp_path / "moments")
    p_state = str(tmp_path / "pct")
    os.makedirs(m_state)
    os.makedirs(p_state)
    fn = make_rollup_batch_fn(spark, m_state, "value")
    pfn = make_percentile_rollup_batch_fn(spark, p_state, "value")

    for i in range(n_batches):
        batch = base.where(F.col("id") % n_batches == i)
        fn(batch, i)
        pfn(batch, i)
        if i % 9 == 4:
            # checkpoint-uncommitted replay: same batch id re-delivered
            fn(batch, i)
            pfn(batch, i)
        if i == 25:
            # death between the two renames: live displaced, stage lost
            os.rename(os.path.join(m_state, "live"),
                      os.path.join(m_state, f"old-{i + 1}"))
        if i == 37:
            os.rename(os.path.join(p_state, "live"),
                      os.path.join(p_state, f"old-{i + 1}"))

    metrics = ["count", "sum", "avg", "stddev", "min", "max"]
    got_m = _finalized_rows(
        finalize_rollup(spark.read.parquet(m_state + "/live"), metrics)
    )
    want_m = _finalized_rows(
        finalize_rollup(rollup_partials(base, "value"), metrics)
    )
    assert got_m == want_m and len(got_m) > 0

    got_p = _finalized_rows(
        finalize_percentile_rollup(spark.read.parquet(p_state + "/live"))
    )
    want_p = _finalized_rows(
        finalize_percentile_rollup(percentile_partials(base, "value"))
    )
    assert got_p == want_p and len(got_p) > 0
    base.unpersist()
