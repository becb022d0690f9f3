"""Tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import catalog  # noqa: E402
import compare  # noqa: E402
import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

UNIT = r"[A-Za-z0-9_/%.-]{1,16}"


# ------------------------------------------------------ percentile rule


def test_p90_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(list(range(99)), 0.9) is None
    assert stats.tail_percentile(list(range(100)), 0.9) == 89


def test_summarize_reports_highest_allowed_tail():
    assert set(stats.summarize([1.0] * 19)) == {"n", "p50"}
    assert "p90" in stats.summarize(list(range(100)))
    big = stats.summarize(list(range(1000)))
    assert "p99" in big and "p90" not in big


def test_samples_beyond_counts_strictly_above():
    assert stats.samples_beyond(10, 0.5) == 5
    assert stats.samples_beyond(1, 0.9) == 0


# ------------------------------------------------------ config mismatch


def _result(**config):
    base = {"workload": "corpus_curation", "seed": 1, "seconds": 10, "trace": 0, "cpus": 4,
            "sf": 0.01, "driver_mem": "2g", "pyspark": "4.1.2", "python": "3.11",
            "commit": "a", "bench_digest": "d"}
    base.update(config)
    return {"config": base, "metrics": {"pass_s": {"value": 10.0, "unit": "s"}}}


def test_compare_accepts_other_seed_and_commit():
    rows = stats.compare([_result()], [_result(seed=2, commit="b")])
    assert rows["pass_s"]["ratio"] == 1.0


@pytest.mark.parametrize("field,value", [("cpus", 8), ("sf", 0.1), ("driver_mem", "16g"),
                                         ("pyspark", "3.5.1"), ("bench_digest", "e"),
                                         ("trace", 1)])
def test_compare_refuses_config_mismatch(field, value):
    with pytest.raises(stats.ConfigMismatch):
        stats.compare([_result()], [_result(**{field: value})])


def test_compare_cli_exits_2_on_mismatch(tmp_path, capsys):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(_result()))
    b.write_text(json.dumps(_result(cpus=32)))
    assert compare.main(["--base", str(a), "--head", str(b)]) == 2
    assert "not comparable" in capsys.readouterr().err


# --------------------------------------------------------- metric names


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid():
    assert stats.valid_metric_name("dataprep.dedup.plan_ms")
    assert not stats.valid_metric_name("a b")
    assert not stats.valid_metric_name(".hidden")
    assert not stats.valid_metric_name("x" * 65)
    for name in list(run.END_TO_END) + list(run.per_layer_names()):
        assert stats.valid_metric_name(name), name


def test_benchmark_json_matches_run_py():
    spec = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert layer == run.per_layer_names()
    assert len(layer) <= 128
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.valid_metric_name(m["name"]), m
        assert re.fullmatch(UNIT, m["unit"]), m
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


# ------------------------------------------------------ catalog and data


def test_operation_sets_keep_targets_layers_and_packages():
    sets = {w: catalog.operation_set(w) for w in ("analytics_interactive", "corpus_curation")}
    ops = set(sets["analytics_interactive"]) | set(sets["corpus_curation"])
    assert set(catalog.TARGETED) <= ops
    assert all(catalog.package(q) == "dataprep" for q in sets["corpus_curation"])
    assert all(catalog.package(q) != "dataprep" for q in sets["analytics_interactive"])
    for layer in catalog.LAYERS:
        assert any(catalog.in_scope(q, layer) for q in ops), layer
    assert {catalog.package(q) for q in ops} == {catalog.package(q) for q in catalog.QUERY_MODULE}
    for scope, (q, _) in catalog.CHEAPEST.items():
        assert catalog.in_scope(q, scope)


def test_every_named_layer_has_per_layer_metrics():
    names = run.per_layer_names()
    for layer in ("analytics.correlation", "dataprep.dedup", "dataprep.pca", "io.writer",
                  "streaming.rollup", "analytics.stattest"):
        assert f"{layer}.exec_ms" in names
    for name in ("streaming.live_table.refresh_ms", "io.writer.rows_rewritten_per_row_updated",
                 "storage.cached_relations_after_pass", "session.steady_drift"):
        assert name in names


def test_query_map_covers_the_registry():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    from raise_featurestore_spark.queries import QUERIES

    assert set(catalog.QUERY_MODULE) == set(QUERIES)


def test_datagen_is_a_function_of_seed():
    a, b = datagen._tables(0.001, 7), datagen._tables(0.001, 7)
    c = datagen._tables(0.001, 8)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["orders"].equals(c["orders"])


# ------------------------------------------------------------ event log


def test_eventlog_charges_tasks_to_qualified_tags(tmp_path):
    q = "spark-session-1-thread-2-"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": f"spark-session-1,{q}pb9-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.tags": "spark-session-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 40, "JVM GC Time": 3, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 1, "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Input Metrics": {"Records Read": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 1000}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = eventlog.parse(str(path), "pb9-")
    assert got == {"pb9-3": {"jobs": 1, "tasks": 1, "task_ms": 40, "gc_ms": 3,
                             "shuffle_write_bytes": 7, "shuffle_read_bytes": 0,
                             "spill_bytes": 6, "records_read": 11}}


def test_overhead_compares_untraced_runs_of_the_same_commit(tmp_path):
    results = tmp_path / run.BENCH_DIR / "results"
    results.mkdir(parents=True)
    config = _result(trace=1)["config"]
    for i, (commit, pass_s) in enumerate((("a", 10.0), ("a", 12.0), ("b", 100.0))):
        rec = _result(commit=commit)
        rec.update(correct=True, steady=[[["op", pass_s]]])
        (results / f"w-seed{i}-trace0-{i}.json").write_text(json.dumps(rec))
    traced = workloads.Run("corpus_curation", 1, 10, True, "", "", {})
    traced.steady = [[("op", 13.2)], [("op", 1.0)]]
    got = run.trace_overhead(str(tmp_path), config, traced)
    assert got["untraced_runs"] == 2
    assert got["untraced_pass_s"] == 11.0
    assert abs(got["overhead_pct"] - 20.0) < 1e-9


def test_steady_pass_count_depends_on_seconds_only():
    assert workloads.steady_passes("analytics_interactive", 10, traced=False) == 1
    assert workloads.steady_passes("analytics_interactive", 10, traced=True) == 2
    assert workloads.steady_passes("corpus_curation", 10, traced=False) == 1
    assert workloads.steady_passes("corpus_curation", 30, traced=False) == 3


def test_descendants_and_alive_track_child_processes():
    import subprocess

    child = subprocess.Popen(["sleep", "30"])
    try:
        assert child.pid in run.descendants(os.getpid())
        assert run.alive(child.pid)
    finally:
        child.kill()
        child.wait()
    assert not run.alive(child.pid)
