"""Benchmark driver: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Timing is per-query end-to-end (plan build + execution + collect of the
small result). A one-time session warm-up query is excluded so we measure
the engine, not JVM startup.

    python bench.py                               # every query, cold + warm
    python bench.py --only Q [Q ...] [--repeats N]  # plan build vs toPandas

Every timed run executes inside its own ``cache_scope()``, so a repeat
recomputes rather than reading the previous run's executor cache.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from raise_featurestore_spark.functions.conf_scope import cache_scope

_REPO = os.path.dirname(os.path.abspath(__file__))
CONFIG_KEYS = ("cpus", "sf")  # the config also records the commit


def artifact_guard(
    prev_queries: dict,
    timings: dict,
    *,
    failures: dict | None = None,
    config: dict | None = None,
    prev_config: dict | None = None,
) -> float | str | None:
    """Why this run may not replace the committed BENCH_local.json (it
    lands in BENCH_local.rejected.json instead), or None when it may.

    Refused: a run with failed queries; a config (``CONFIG_KEYS``) other
    than the baseline's, or a baseline without one; fewer queries than
    the baseline; a MEDIAN per-query ratio against the baseline off by
    more than 50% either way, returned as the ratio (a contended box
    slows every query; an optimization of one family cannot move the
    median). ``config=None`` skips the config check; an empty baseline
    accepts any run without failures. SPARK_GRAFT_BENCH_FORCE=1 (after
    an intentional global change or a hardware move) overrides all.
    """
    import statistics

    if os.environ.get("SPARK_GRAFT_BENCH_FORCE"):
        return None
    if failures:
        return f"{len(failures)} failed queries"
    if not prev_queries:
        return None
    if config is not None and (
        prev_config is None or any(prev_config.get(k) != config[k] for k in CONFIG_KEYS)
    ):
        return f"config {config} differs from the baseline's {prev_config}"
    if len(timings) < len(prev_queries):
        return f"{len(timings)} queries, the baseline has {len(prev_queries)}"
    ratios = [
        timings[q] / prev_queries[q]
        for q in timings
        if isinstance(prev_queries.get(q), (int, float)) and prev_queries[q] > 0
    ]
    if len(ratios) < 10:  # too few commons to judge (first run, renames)
        return None
    med = statistics.median(ratios)
    if 1.0 / 1.5 <= med <= 1.5:
        return None
    return round(med, 3)


def _git(*args: str) -> str | None:
    try:
        return subprocess.run(
            ["git", "-C", _REPO, *args], capture_output=True, text=True, check=True
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None


def _baseline(side: str) -> dict:
    """``HEAD:BENCH_local.json``, so accepted runs cannot ratchet the
    baseline; else the file on disk; else {}."""
    text = _git("show", "HEAD:BENCH_local.json")
    try:
        if text is None:
            with open(side) as f:
                text = f.read()
        return json.loads(text)
    except (OSError, ValueError):
        return {}


def _warm_up(spark, sf_dir: str, entrymod) -> float | str:
    """One-time session warm-up, excluded from every timing; returns the
    seconds spent priming the reference artifacts (or why that failed)."""
    # JVM/codegen warm-up, excluded from timings. Exercise the main codegen
    # families once (hash aggregate, percentile buffer, window, regexp,
    # higher-order array fns) so whichever query happens to run first isn't
    # charged for one-time whole-stage compilation of those operators.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1000).selectExpr(
        "percentile(id, array(0.5, 0.9)) AS p",
        "count(DISTINCT id % 7) AS d",
    ).collect()
    spark.range(1000).selectExpr(
        "id",
        "sum(id) OVER (PARTITION BY id % 4 ORDER BY id "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS w",
        "regexp_count(CAST(id AS STRING), '[0-9]') AS rc",
        "aggregate(sequence(1, 5), 0L, (a, x) -> a + x) AS hof",
    ).collect()
    # Arrow / Python-worker pool spin-up (~4-8 s one-time): without this the
    # alphabetically-first applyInPandas/mapInPandas query absorbs it.
    spark.range(100).groupBy().applyInPandas(
        lambda pdf: pdf.head(1), "id long"
    ).collect()
    # Embedded-Derby driver classloading + first connection (~1 s one-time):
    # unwarmed, it is charged to source_jdbc_query (0.12 s reads as
    # 1.13 s). Warm the same JDBC path the query uses; a failure here must
    # not kill the bench.
    try:
        entrymod.queries()["source_jdbc_query"](spark, sf_dir).collect()
    except Exception:
        pass
    # Train-once reference artifacts (bigram LM model, IVF centroids +
    # assigned corpus): built here if absent — the fixture a deployment
    # runs once before serving — so per-query numbers measure the
    # score-many/probe path, not one-time artifact training. One-time
    # build costs: PERF.md.
    try:
        from raise_featurestore_spark.queries import prime_reference_artifacts

        t0 = time.perf_counter()
        prime_reference_artifacts(spark, sf_dir)
        prime_secs = round(time.perf_counter() - t0, 3)
    except Exception as ex:
        prime_secs = f"{type(ex).__name__}: {ex}"[:120]
    # Page-cache warm read of every input table: whether the parquet bytes
    # are OS-resident was worth a ±10% swing on the total — pay the disk
    # read once here so per-query numbers measure the engine, not disk
    # state. (A plain byte read warms the cache; no Spark involvement.)
    import glob as _glob

    for _p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(_p, "rb") as _f:
            while _f.read(1 << 22):
                pass
    return prime_secs


def _run_only(spark, sf_dir: str, queries: dict, names: list[str], repeats: int) -> None:
    """Time ``repeats`` runs of each named query, split into plan build
    (the query function's return, including any eager jobs it runs) and
    the Arrow ``toPandas`` action."""
    for name in names:
        fn = queries[name]
        for r in range(repeats):
            with cache_scope():
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
                df.toPandas()
                t2 = time.perf_counter()
            print(
                f"{name} run{r}: plan-build {t1 - t0:.3f} s, "
                f"toPandas {t2 - t1:.3f} s, total {t2 - t0:.3f} s",
                flush=True,
            )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", nargs="+", metavar="Q", help="time only these queries")
    ap.add_argument("--repeats", type=int, default=3, help="runs per query with --only")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from raise_featurestore_spark.session import get_spark

    import __spark_entry__ as entrymod

    unknown = sorted(set(args.only or ()) - set(entrymod.queries()))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("bench")
    prime_secs = _warm_up(spark, sf_dir, entrymod)
    if args.only:
        _run_only(spark, sf_dir, entrymod.queries(), args.only, args.repeats)
        spark.stop()
        return

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    failures: dict[str, str] = {}
    # persisted + local-checkpoint RDDs: each scope must hand back what it took
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    rdds = {"before": persistent().size(), "peak": persistent().size()}

    def run_scoped(fn) -> None:
        with cache_scope():
            fn(spark, sf_dir).toPandas()
            rdds["peak"] = max(rdds["peak"], persistent().size())

    # Results materialize via Arrow toPandas(), not row-collect(): row
    # collect() serializes every row through the Python pickler and was ~3 s
    # of pure driver transfer on 600k-row outputs (measured: standardize
    # exec 0.2 s, collect 3 s) while the DuckDB differential materializes
    # columnar .df() — Arrow is the symmetric, engine-honest measure
    # (perf_diff.py uses the same pairing).
    for name, fn in sorted(entrymod.queries().items()):
        t0 = time.perf_counter()
        try:
            run_scoped(fn)
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as ex:  # keep benching even if one query breaks
            failures[name] = f"{type(ex).__name__}: {ex}"[:200]
            continue
        # warm pass: identical plan immediately re-built and re-collected —
        # codegen/broadcasts/page cache are hot, executor caches are not
        # (the cold run's scope released them), so this is the PRD's
        # "interactive repeat query" number. The cold number above stays
        # the headline metric. A flaky repeat must not lose the cold
        # timings already measured.
        t1 = time.perf_counter()
        try:
            run_scoped(fn)
            warm[name] = round(time.perf_counter() - t1, 3)
        except Exception as ex:
            failures[f"{name} (warm)"] = f"{type(ex).__name__}: {ex}"[:200]

    config = {
        "cpus": spark.sparkContext.defaultParallelism,
        "sf": sf,
        "commit": (_git("rev-parse", "--short", "HEAD") or "").strip() or None,
    }
    out = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "config": config,
        "n_queries": len(timings),
        "warm_total": round(sum(warm.values()), 3),
        "artifact_prime_secs": prime_secs,
        "persistent_rdds": {**rdds, "after": persistent().size()},
    }
    try:
        out["prd_targets"] = _prd_targets(spark, sf_dir)
    except Exception as ex:  # a side measurement must never eat the bench
        out["prd_targets"] = {"error": f"{type(ex).__name__}: {ex}"[:200]}
    if failures:
        out["failures"] = failures
    # FULL record (incl. per-query warm timings) to a side file: a stdout
    # capture may keep only a tail, so the machine-readable per-query
    # record must survive independently of any stdout capture buffer.
    # Stdout keeps the one-line contract but drops the warm per-query map
    # to halve the line.
    full = dict(out)
    full["queries_warm"] = warm
    side = os.path.join(_REPO, "BENCH_local.json")
    # a failed, cross-config, partial or contended run must not replace
    # the committed artifact — see artifact_guard.
    prev = _baseline(side)
    suspect = artifact_guard(
        prev.get("queries", {}),
        timings,
        failures=failures,
        config=config,
        prev_config=prev.get("config"),
    )
    if suspect is not None:
        out["artifact_suppressed"] = suspect
        full["artifact_suppressed"] = suspect
        side = side.replace("BENCH_local.json", "BENCH_local.rejected.json")
    try:
        with open(side, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout must not fail the bench
    # A stdout capture that keeps only the LAST ~2000 chars and parses that
    # tail cannot parse the full per-query line (~5 KB; the tail starts
    # mid-line). Emit a compact record guaranteed to fit the tail window:
    # slowest queries only, full map in BENCH_local.json.
    compact = dict(out)
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    keep = len(ranked)
    while True:
        compact["queries"] = dict(sorted(ranked[:keep]))
        compact["queries_omitted"] = len(ranked) - keep
        compact["full_record"] = os.path.basename(side)
        if len(json.dumps(compact)) <= 1900 or keep == 0:
            break
        # clamped step so keep=1 (and finally 0 = drop the map entirely)
        # IS tried — a plain keep-=5 loop could exit at keep 4..6 with a
        # record still over the driver's ~2000-char tail window
        keep = keep - 5 if keep > 6 else (1 if keep > 1 else 0)
    print(json.dumps(compact))
    spark.stop()
    sys.exit(1 if failures else 0)


def _prd_targets(spark, sf_dir: str) -> dict:
    """Measured warm-path numbers for the reference PRD's latency targets
    (raise_/PRD.md:2752,2755): simple aggregation < 500 ms and live-table
    query < 200 ms. Warm = best of 3 repeats after one priming run, the
    steady state those targets describe."""
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from raise_featurestore_spark.streaming.live_table import LiveTable
    from raise_featurestore_spark.tables import load_table

    def best_of(fn, n=3) -> float:
        fn()  # prime
        return round(min(_timed(fn) for _ in range(n)) * 1000, 1)

    def _timed(fn) -> float:
        t0 = _t.perf_counter()
        fn()
        return _t.perf_counter() - t0

    orders = load_table(spark, sf_dir, "orders")
    simple_agg = best_of(
        lambda: orders.agg(
            F.count("*"), F.round(F.avg("o_totalprice"), 4)
        ).collect()
    )

    lt = LiveTable(
        name="bench_live",
        compute=lambda sp: load_table(sp, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total")),
        storage_path=tempfile.mkdtemp(prefix="bench_live_"),
    )
    lt.refresh(spark)
    live_query = best_of(
        lambda: lt.query(spark, order_by="-total", limit=3).collect()
    )
    return {
        "simple_agg_warm_ms": simple_agg,
        "live_table_query_warm_ms": live_query,
    }


if __name__ == "__main__":
    main()
