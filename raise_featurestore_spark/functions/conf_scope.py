"""Scoped session state: conf overrides and executor caches.

PySpark session conf is SESSION-GLOBAL: a temporary override (e.g.
disabling AQE around a localCheckpoint so the LogicalRDD keeps its
outputPartitioning — analytics/graph.py) is visible to every job planned
on the same session while the window is open. This module makes such
windows safe against each other:

- one process-wide re-entrant lock serializes all scoped windows, so two
  concurrent overrides can never interleave their set/restore pairs and
  restore a stale value;
- restore is exact (unset keys are unset again, not set to a default);
- numeric conf reads get a defaultParallelism fallback for platforms
  where the value is symbolic (``spark.sql.shuffle.partitions = 'auto'``
  under some vendor runtimes).

Known, documented residual: a job planned CONCURRENTLY on the
same session by another thread during an open window picks up the
override — for the AQE window that is a perf-only degradation (a
non-adaptive but correct plan), never a correctness issue. Callers that
interleave thread-pooled actions with scoped windows on one session
accept that; fully isolating would need a dedicated SparkSession per
override, which classic PySpark cannot retrofit onto an existing
DataFrame's plan.

Executor caches: engine code materializes only through ``scoped_persist``
and ``scoped_checkpoint``; code that runs a plan to completion opens
``cache_scope()``, which releases both the CacheManager entries and the
checkpoint RDD blocks after the caller's action, so no executor-side copy
outlives the query that built it.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

# Process-wide: conf windows on ANY session serialize against each other.
# RLock so a scoped window can nest another (e.g. a helper that scopes a
# second key while the caller holds the AQE window).
_CONF_SCOPE_LOCK = threading.RLock()

_UNSET = object()


@contextmanager
def scoped_conf(spark: SparkSession, **overrides: str) -> Iterator[None]:
    """Set session confs for the duration of the block, then restore the
    exact prior state (including unset-ness), under the process-wide
    scope lock. Keys use ``__`` as the ``.`` separator
    (``spark__sql__adaptive__enabled="false"``)."""
    keys = {k.replace("__", "."): v for k, v in overrides.items()}
    with _CONF_SCOPE_LOCK:
        prior: dict[str, object] = {}
        for k, v in keys.items():
            try:
                prior[k] = spark.conf.get(k)
            except Exception:
                prior[k] = _UNSET
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, was in prior.items():
                if was is _UNSET:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, was)


def shuffle_partitions(spark: SparkSession, default: int | None = None) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``default`` (or ``sparkContext.defaultParallelism``) when the value
    is non-numeric — vendor runtimes ship ``'auto'``."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        return int(raw)
    except (TypeError, ValueError):
        if default is not None:
            return default
        return spark.sparkContext.defaultParallelism


# release callbacks for the frames materialized inside the innermost open
# cache_scope() of this context (None: no scope); per context, so
# concurrent threads own separate scopes
_CACHE_SCOPE: ContextVar[list[Callable[[], object]] | None] = ContextVar(
    "cache_scope", default=None
)


@contextmanager
def cache_scope() -> Iterator[None]:
    """Release, when the block exits, every frame that
    :func:`scoped_persist` or :func:`scoped_checkpoint` materialized
    inside it. A nested scope releases only its own frames; the enclosing
    scope's stay materialized until it exits. Run the action that reads
    them inside the block: a released checkpoint cannot be read again."""
    releases: list[Callable[[], object]] = []
    token = _CACHE_SCOPE.set(releases)
    try:
        yield
    finally:
        _CACHE_SCOPE.reset(token)
        for release in releases:
            release()


def _register(release: Callable[[], object]) -> None:
    releases = _CACHE_SCOPE.get()
    if releases is not None:
        releases.append(release)


def scoped_persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released when the innermost open
    :func:`cache_scope` exits. With no scope open it is a plain
    ``persist()``: the cache lives until the caller unpersists it or
    clears the session's cache."""
    df = df.persist()
    _register(df.unpersist)
    return df


def scoped_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, whose RDD blocks are released when
    the innermost open :func:`cache_scope` exits. With no scope open it
    is a plain ``localCheckpoint``: the blocks live until the driver
    drops the RDD and its ContextCleaner runs."""
    df = df.localCheckpoint(eager)
    _register(lambda: df._jdf.queryExecution().analyzed().rdd().unpersist(False))
    return df
