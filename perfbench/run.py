"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run in a
checkout builds the inputs (perfbench/build.py) under ``.bench_build/``.
Every run then works in a fresh directory under ``.bench_build/`` that
holds its artifact cache, Spark local dirs, temp dirs, storage roots,
event log and working directory, and removes it on exit.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it holds the run's config record, the sample count of every
metric and, in a traced run, the tracing overhead; the same record is saved under ``.bench_build/perfbench/results``
for ``perfbench/compare.py``. The exit code is non-zero when an operation
failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import catalog  # noqa: E402
import eventlog  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEM = "2g"
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "op_geomean_ms": "ms"}
BENCH_DIR = os.path.join(".bench_build", "perfbench")
LAYER_METRICS = {
    "transfer.arrow_ms": "ms",
    "transfer.result_rows": "count",
    "setup.session_s": "s",
    "setup.warmup_s": "s",
    "setup.fixture_s": "s",
    "storage.cached_relations_after_pass": "count",
    "storage.retained_block_mb_after_pass": "MB",
    "session.steady_drift": "ratio",
    # the feature-store operations of analytics_interactive
    "io.writer.upsert_ms": "ms",
    "io.writer.rows_rewritten_per_row_updated": "count",
    "io.writer.files_per_generation": "count",
    "io.writer.space_amplification": "ratio",
    "analytics.record_lookup.lookup_ms": "ms",
    "analytics.record_lookup.rows_scanned_per_row_returned": "ratio",
    "streaming.live_table.refresh_ms": "ms",
    "streaming.live_table.query_ms": "ms",
}
MODULE_UNITS = {"plan_ms": "ms", "plan_jobs": "count", "exec_ms": "ms", "task_ms": "ms",
                "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_ms": "ms"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit. Both workloads report the
    same list: a layer a workload does not call reads 0 there."""
    out = {f"{m}.{f}": unit for m in catalog.modules_of(list(workloads.WORKLOADS))
           for f, unit in MODULE_UNITS.items()}
    out.update(LAYER_METRICS)
    return out


# ----------------------------------------------------------------- config


def source_digest(root: str, paths: list[str]) -> str:
    h = hashlib.sha1()
    for top in paths:
        full = os.path.join(root, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs if f.endswith(".py"))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:12]


def commit_of(root: str) -> str:
    """The git commit when the checkout is a repository, else a digest of
    the engine sources."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10, check=True)
            return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "src:" + source_digest(root, ["raise_featurestore_spark", "__spark_entry__.py"])


def config_record(args, root: str) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.cpu_count(),
        "sf": build.SF,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "commit": commit_of(root),
        "bench_digest": source_digest(root, ["perfbench"]),
    }


# -------------------------------------------------------------- isolation


def prepare(root: str, traced: bool) -> tuple[str, str]:
    """Build the inputs if this checkout has none; make this run's fresh
    directories and point the engine, Spark and the JVM at them."""
    build_dir = os.path.join(root, BENCH_DIR, f"build-{build.build_key()}")
    if not os.path.isdir(build_dir):
        env = dict(os.environ, PYTHONPATH=root)
        subprocess.run([sys.executable, os.path.join(HERE, "build.py"), build_dir],
                       cwd=root, env=env, check=True, timeout=800)
    run_dir = os.path.join(root, BENCH_DIR, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("cache", "local", "tmp", "work", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    submit = [f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if traced:
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false",
                   f"--conf spark.eventLog.dir=file://{run_dir}/events"]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM),
        SPARK_GRAFT_CACHE=os.path.join(run_dir, "cache"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYTHONPATH=root,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = None
    return build_dir, run_dir


def warm_page_cache(data_dir: str) -> None:
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            while fh.read(1 << 22):
                pass


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Linux /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM it launched and the Python
    workers the JVM started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def alive(pid: int) -> bool:
    """Running, not exited (a zombie has exited; its new parent reaps it)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# ---------------------------------------------------------------- metrics


def end_to_end(run: workloads.Run) -> dict[str, tuple[float, int]]:
    """name -> (value, samples)."""
    setup = run.setup
    setup_s = setup["session_s"] + setup["warmup_s"] + setup.get("fixture_s", 0.0)
    passes = [sum(s for _, s in p) for p in run.steady]
    ops = [s for p in run.steady for _, s in p]
    return {
        "setup_s": (setup_s, 1),
        "first_pass_s": (sum(s for _, s in run.first_pass), len(run.first_pass)),
        "pass_s": (median(passes), len(passes)),
        "op_geomean_ms": (geomean(ops) * 1000, len(ops)),
    }


def geomean(values: list[float]) -> float:
    """Geometric mean: every operation weighs the same whatever its size,
    and one operation's noise moves it far less than it moves a median of
    a handful of unequal operations."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def median(values: list[float]) -> float:
    """Median; 0 when every sample failed (the run then reports
    ``correct: false``)."""
    return statistics.median(values) if values else 0.0


def per_layer(run: workloads.Run, events: dict) -> dict[str, tuple[float, int]]:
    """name -> (value, samples); span sums are per steady pass."""
    spans = run.tracer.spans
    by_id = {s.id: s for s in spans}
    steady_ids = {s.id for s in spans if s.layer == "pass" and s.name.startswith("steady")}
    n = max(1, len(steady_ids))
    out: dict[str, tuple[float, int]] = {name: (0.0, 0) for name in per_layer_names()}

    def add(name: str, value: float) -> None:
        v, k = out[name]
        out[name] = (v + value, k + 1)

    def in_steady(span) -> bool:
        while span.parent is not None:
            span = by_id[span.parent]
        return span.id in steady_ids

    lookups, lookup_scanned, lookup_rows = [], 0, 0
    timed: dict[str, list[float]] = {}
    for s in spans:
        if s.parent is None or not in_steady(s):
            continue
        ev = events.get(s.tag, eventlog.empty()) if s.tag else eventlog.empty()
        if s.name == "plan":
            add(f"{s.layer}.plan_ms", s.seconds * 1000 / n)
            add(f"{s.layer}.plan_jobs", ev["jobs"] / n)
        elif s.name == "exec":
            collect_s = s.attrs["collect_s"]
            add(f"{s.layer}.exec_ms", collect_s * 1000 / n)
            add(f"{s.layer}.task_ms", ev["task_ms"] / n)
            add(f"{s.layer}.gc_ms", ev["gc_ms"] / n)
            add(f"{s.layer}.shuffle_write_mb", ev["shuffle_write_bytes"] / 2**20 / n)
            add(f"{s.layer}.spill_mb", ev["spill_bytes"] / 2**20 / n)
            add("transfer.arrow_ms", (s.seconds - collect_s) * 1000 / n)
            add("transfer.result_rows", s.attrs["rows"] / n)
        elif s.name == "point_lookup":
            lookups.append(s.seconds * 1000)
            lookup_scanned += ev["records_read"]
            lookup_rows += s.attrs["rows"]
        elif s.name in ("live_query", "upsert", "refresh"):
            timed.setdefault(s.name, []).append(s.seconds * 1000)
    for key in ("session_s", "warmup_s", "fixture_s"):
        if key in run.setup:
            out[f"setup.{key}"] = (run.setup[key], 1)
    out["storage.cached_relations_after_pass"] = (max(r for r, _ in run.storage),
                                                  len(run.storage))
    out["storage.retained_block_mb_after_pass"] = (max(m for _, m in run.storage),
                                                   len(run.storage))
    passes = [sum(t for _, t in p) for p in run.steady]
    out["session.steady_drift"] = (passes[-1] / passes[0] if passes[0] else 0.0, len(passes))
    for name, values in run.layer.items():
        out[name] = (statistics.median(values), len(values))
    for name, key in (("analytics.record_lookup.lookup_ms", "point_lookup"),
                      ("streaming.live_table.query_ms", "live_query"),
                      ("io.writer.upsert_ms", "upsert"),
                      ("streaming.live_table.refresh_ms", "refresh")):
        values = lookups if key == "point_lookup" else timed.get(key, [])
        if values:
            out[name] = (statistics.median(values), len(values))
    if lookups:
        out["analytics.record_lookup.rows_scanned_per_row_returned"] = (
            lookup_scanned / max(1, lookup_rows), len(lookups))
    return out


def trace_overhead(root: str, config: dict, run: workloads.Run) -> dict:
    """This traced run's first steady pass against the first steady pass of
    the saved untraced runs of the same config and commit. Both passes do
    the same work; the difference is the spans, the job tags, the Arrow
    clock and the event log."""
    want = dict(config, trace=0)
    untraced = []
    for path in glob.glob(os.path.join(root, BENCH_DIR, "results", "*-trace0-*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        try:
            stats.check_comparable(want, rec["config"])
        except stats.ConfigMismatch:
            continue
        if rec["correct"] and rec["config"]["commit"] == config["commit"]:
            untraced.append(sum(s for _, s in rec["steady"][0]))
    traced = sum(s for _, s in run.steady[0])
    out = {"traced_pass_s": traced, "untraced_runs": len(untraced)}
    if untraced:
        base = statistics.median(untraced)
        out.update(untraced_pass_s=base, overhead_pct=(traced / base - 1) * 100)
    return out


# ------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "raise_featurestore_spark", "queries.py")):
        print("perfbench: run from the repository root (raise_featurestore_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    build_dir, run_dir = prepare(root, bool(args.trace))
    data_dir = os.path.join(build_dir, "data")
    with open(os.path.join(build_dir, "expected.json")) as fh:
        expected = json.load(fh)
    warm_page_cache(data_dir)
    os.chdir(os.path.join(run_dir, "work"))
    run = workloads.Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
                        traced=bool(args.trace), data_dir=data_dir,
                        work_dir=os.path.join(run_dir, "work"), expected=expected)
    try:
        try:
            workloads.start_session(run)
            workloads.WORKLOADS[args.workload](run)
        finally:
            if run.spark is not None:
                stop_spark(run.spark)
        config = config_record(args, root)
        if args.trace:
            events = eventlog.parse(eventlog.find_log(os.path.join(run_dir, "events")),
                                    run.tracer.prefix)
            metrics = per_layer(run, events)
            spans = [dict(vars(sp), seconds=sp.seconds, tasks=events.get(sp.tag))
                     for sp in run.tracer.spans]
            units = per_layer_names()
            extra = {"trace_overhead": trace_overhead(root, config, run)}
        else:
            metrics = end_to_end(run)
            units = END_TO_END
            spans = []
            extra = {}
    finally:
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _) in metrics.items()},
    }
    # pooled steady operation latency: median, plus the highest tail
    # percentile that has at least ten samples beyond it
    latency_ms = stats.summarize([s * 1000 for p in run.steady for _, s in p])
    record = dict(result, config=config, failures=run.failures,
                  samples={k: n for k, (_, n) in metrics.items()}, latency_ms=latency_ms,
                  first_pass=run.first_pass, steady=run.steady, spans=spans, **extra)
    results_dir = os.path.join(root, BENCH_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(results_dir, name), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    for k, (v, n) in metrics.items():
        print(f"{k:58s} {v:14.4f} {units[k]:6s} n={n}")
    print(json.dumps({"config": config, "samples": record["samples"],
                      "latency_ms": latency_ms, **extra}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
