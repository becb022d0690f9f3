"""bench.py artifact hygiene: a contended, cross-config, partial or
failed run must not silently replace the committed BENCH_local.json.
Pure-Python unit tests of the guard predicate — no Spark session."""

import importlib.util
import os
import sys

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
_spec = importlib.util.spec_from_file_location("bench_module", _BENCH)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _q(n, scale=1.0):
    return {f"q{i:03d}": (1.0 + i / 10.0) * scale for i in range(n)}


def test_comparable_run_passes():
    assert bench.artifact_guard(_q(50), _q(50)) is None


def test_mild_drift_passes():
    # 30% global drift is inside the ±50% band
    assert bench.artifact_guard(_q(50), _q(50, scale=1.3)) is None


def test_contended_run_rejected():
    # contended box: everything 3x slower
    med = bench.artifact_guard(_q(50), _q(50, scale=3.0))
    assert med == pytest.approx(3.0)


def test_globally_faster_run_also_suspect():
    # a wrong-SF / wrong-env run looks uniformly fast — equally invalid
    assert bench.artifact_guard(_q(50), _q(50, scale=0.3)) is not None


def test_single_family_win_does_not_trip_median():
    prev, now = _q(50), _q(50)
    for i in range(5):  # genuine 4x win on 5 queries
        now[f"q{i:03d}"] = prev[f"q{i:03d}"] / 4.0
    assert bench.artifact_guard(prev, now) is None


def test_few_commons_passes():
    # first run / mass rename: nothing to compare against
    assert bench.artifact_guard(_q(5), _q(5, scale=3.0)) is None


def test_force_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE", "1")
    assert bench.artifact_guard(_q(50), _q(50, scale=3.0)) is None


_CFG = {"cpus": 4, "sf": 0.1, "commit": "abc1234"}


def test_config_mismatch_rejected():
    # an 8-core artifact vs a 4-core run: median ratio ~1.47 would pass
    # the contention band, the config check must not
    prev_cfg = dict(_CFG, cpus=8)
    reason = bench.artifact_guard(_q(50), _q(50, scale=1.47), config=_CFG, prev_config=prev_cfg)
    assert isinstance(reason, str) and "config" in reason


def test_baseline_without_config_counts_as_different():
    assert bench.artifact_guard(_q(50), _q(50), config=_CFG, prev_config=None) is not None


def test_same_config_other_commit_passes():
    prev_cfg = dict(_CFG, commit="0000000")
    assert bench.artifact_guard(_q(50), _q(50), config=_CFG, prev_config=prev_cfg) is None


def test_run_with_failures_rejected():
    now = _q(50)
    del now["q007"]
    reason = bench.artifact_guard(_q(50), now, failures={"q007": "ValueError: boom"})
    assert isinstance(reason, str) and "failed" in reason


def test_coverage_drop_rejected():
    reason = bench.artifact_guard(_q(50), _q(40))
    assert isinstance(reason, str) and "40 queries" in reason


def test_force_overrides_every_check(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FORCE", "1")
    assert bench.artifact_guard(
        _q(50), _q(40), failures={"q045": "boom"}, config=_CFG, prev_config=None
    ) is None
