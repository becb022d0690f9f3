"""AnalysisResult + async AnalysisJob + the analyze client path.

(reference: raise_/analytics/result.py — AnalysisResult :21-96 with typed
accessors and export :102-162; AnalysisJob pending→running→completed with
wait()/result()/cancel() :202-308; client orchestration
raise_/analytics/client.py:46-115 with the freshness cache at :61-79.
The reference executes nothing; here ``analyze`` compiles the spec through
the router, collects the (small) result, and caches it under the
freshness policy.)

Async model: analyses are Spark jobs driven from the driver, so the async
variant is a daemon thread per job (the reference's job-queue boundary,
PRD.md:1064-1082, maps to a real queue in production). ``cancel`` uses a
thread-local Spark job tag (``addTag``/``interruptTag``) so a running
distributed job is actually interrupted, not just abandoned.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from raise_featurestore_spark.analytics.freshness import CACHED, Freshness, ResultCache
from raise_featurestore_spark.analytics.router import compile_analysis
from raise_featurestore_spark.functions.conf_scope import cache_scope


@dataclass
class AnalysisResult:
    """Collected analysis output with typed accessors + export
    (reference: raise_/analytics/result.py:21-162)."""

    spec: Any
    data: pd.DataFrame
    created_at: str = field(
        default_factory=lambda: datetime.now(timezone.utc).isoformat()
    )
    result_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    def to_dataframe(self) -> pd.DataFrame:
        return self.data.copy()

    def to_json(self, path: str | None = None) -> str:
        payload = json.dumps(
            {
                "created_at": self.created_at,
                "rows": self.data.to_dict(orient="records"),
            },
            default=str,
        )
        if path:
            with open(path, "w") as f:
                f.write(payload)
        return payload

    def to_csv(self, path: str | None = None) -> str:
        text = self.data.to_csv(index=False)
        if path:
            with open(path, "w") as f:
                f.write(text)
        return text

    def value(self, metric: str, default: Any = None) -> Any:
        """Scalar accessor for 1-row results (e.g. ``result.value('psi')``)."""
        if metric in self.data.columns and len(self.data):
            return self.data[metric].iloc[0]
        return default

    @property
    def row_count(self) -> int:
        return len(self.data)


class AnalysisJob:
    """Async analysis handle (reference: raise_/analytics/result.py:202-308)."""

    def __init__(self, spark: SparkSession, run: Callable[[], AnalysisResult]) -> None:
        self.job_id = uuid.uuid4().hex[:12]
        self.status = "pending"
        self.error: str | None = None
        self._result: AnalysisResult | None = None
        self._spark = spark
        self._group = f"analysis-{self.job_id}"
        self._done = threading.Event()

        def target() -> None:
            # a cancel() that raced thread startup must stick — blindly
            # setting "running" here would overwrite it and execute the
            # full job while cancel() already returned True
            if self.status == "cancelled":
                self._done.set()
                return
            self.status = "running"
            try:
                # thread-local job tag → cancel() interrupts exactly this
                # job's stages (PySpark ≥3.5 tag API; clearJobGroup is gone
                # in PySpark 4)
                try:
                    self._spark.addTag(self._group)
                except Exception:
                    pass  # tag API unavailable (e.g. mocked session)
                self._result = run()
                if self.status != "cancelled":
                    self.status = "completed"
            except Exception as ex:
                if self.status != "cancelled":
                    self.status = "failed"
                    self.error = f"{type(ex).__name__}: {ex}"[:500]
            finally:
                try:
                    self._spark.clearTags()
                except Exception:
                    pass
                self._done.set()

        self._thread = threading.Thread(target=target, daemon=True)
        self._thread.start()

    def wait(self, timeout: float | None = None) -> str:
        self._done.wait(timeout)
        return self.status

    def result(self, timeout: float | None = None) -> AnalysisResult:
        status = self.wait(timeout)
        if status == "completed":
            return self._result  # type: ignore[return-value]
        if status in ("pending", "running"):
            raise TimeoutError(f"analysis {self.job_id} still {status}")
        raise RuntimeError(f"analysis {self.job_id} {status}: {self.error}")

    def cancel(self) -> bool:
        """Interrupts the distributed job via its Spark job tag."""
        if self._done.is_set():
            return False
        self.status = "cancelled"
        try:
            self._spark.interruptTag(self._group)
        except Exception:
            pass
        return True


class AnalyticsClient:
    """The ``group.analyze`` execution path with freshness-cached results
    (reference: raise_/analytics/client.py:46-115)."""

    def __init__(self, cache: ResultCache | None = None) -> None:
        self.cache = cache or ResultCache()
        self.results: list[AnalysisResult] = []
        self.jobs: dict[str, AnalysisJob] = {}

    def analyze(
        self,
        df: DataFrame,
        spec: Any,
        freshness: Freshness = CACHED,
        **kwargs: Any,
    ) -> AnalysisResult:
        def compute() -> pd.DataFrame:
            with cache_scope():
                return compile_analysis(df, spec, **kwargs).toPandas()

        data = self.cache.get_or_compute(spec, compute, freshness)
        result = AnalysisResult(spec=spec, data=data)
        self.results.append(result)
        return result

    def analyze_async(
        self,
        df: DataFrame,
        spec: Any,
        freshness: Freshness = CACHED,
        **kwargs: Any,
    ) -> AnalysisJob:
        job = AnalysisJob(
            df.sparkSession, lambda: self.analyze(df, spec, freshness, **kwargs)
        )
        self.jobs[job.job_id] = job
        return job

    # -- job management (reference: analytics/client.py:205-232) -------------

    def get_job(self, job_id: str) -> AnalysisJob | None:
        return self.jobs.get(job_id)

    def list_jobs(self, status: str | None = None) -> list[AnalysisJob]:
        out = list(self.jobs.values())
        if status:
            out = [j for j in out if j.status == status]
        return out

    def cancel_job(self, job_id: str) -> bool:
        job = self.jobs.get(job_id)
        return job.cancel() if job else False

    # -- result management (reference: analytics/client.py:237-281) ----------

    def get_result(self, result_id: str) -> AnalysisResult | None:
        for r in self.results:
            if r.result_id == result_id:
                return r
        return None

    def list_results(self, limit: int = 100) -> list[AnalysisResult]:
        return sorted(self.results, key=lambda r: r.created_at, reverse=True)[:limit]

    def delete_result(self, result_id: str) -> bool:
        before = len(self.results)
        self.results = [r for r in self.results if r.result_id != result_id]
        return len(self.results) < before

    def delete_results(self, older_than_days: float) -> int:
        """Drop results older than N days; returns how many were removed."""
        cutoff = datetime.now(timezone.utc).timestamp() - older_than_days * 86400
        before = len(self.results)
        self.results = [
            r for r in self.results
            if datetime.fromisoformat(r.created_at).timestamp() >= cutoff
        ]
        return before - len(self.results)
