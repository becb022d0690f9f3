"""The benchmark's two workloads, run by one client in a closed loop.

Each workload first sets up (session start, warm-up job, and in
``analytics_interactive`` the feature-group fixture), then runs one *first
pass* over its fixed operation list on the fresh session, then a fixed
number of *steady passes*. The seed sets the order of the operations in
every pass and the keys of the feature-store operations. Cached data is
released after every pass, after the number of cached relations has been
read.

``analytics_interactive`` runs, next to its queries, the feature-store
read and write path on one ``orders`` feature group: point lookups through
``read_feature_group``, ``LiveTable.query`` reads, and an upsert of a
seeded key batch followed by ``LiveTable.refresh``.

Correctness is checked outside every timed region: a query's first-pass
result against the DuckDB oracle's canonical result, later passes against
the first pass, and every feature-store read against an in-process model
of the rows written so far.

Tracing (``Run.traced``) wraps each call into a layer in a span that sets
a Spark job tag, splits each query into plan build and ``toPandas``, and
times the part of ``toPandas`` that runs the plan and brings its Arrow
batches to Python (:class:`ArrowClock`); the rest is the Arrow-to-pandas
conversion. Per-job task metrics come from the event log (:mod:`eventlog`).
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import random
import time
from dataclasses import dataclass, field

import catalog
from build import canon

# Expected seconds of one steady pass at sf0.01 on 4 cores (the median of
# ten runs, rounded up to a whole second). A run makes enough steady
# passes to cover --seconds at this rate (at least 2 when traced, so that
# drift is measurable); the count depends on --seconds only, never on how
# fast this run happens to be. A second corpus_curation pass did not make
# pass_s steadier across seeds (quartile spread 0.12 with the median of
# two passes, 0.09-0.13 with the first alone) and costs 10 s a run.
NOMINAL_PASS_S = {
    "analytics_interactive": 17.0,
    "corpus_curation": 10.0,
}

# feature-store operations in every analytics_interactive pass
FEATURE_STORE_OPS = ("point_lookup", "point_lookup", "live_query", "upsert_refresh")
KEYS_PER_LOOKUP = 8
ROWS_PER_UPSERT = 50


def steady_passes(workload: str, seconds: float, traced: bool) -> int:
    return max(2 if traced else 1, math.ceil(seconds / NOMINAL_PASS_S[workload]))


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    tag: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class ArrowClock:
    """Seconds spent in ``DataFrame._collect_as_arrow``: the part of
    ``toPandas`` that runs the plan and brings its Arrow batches to Python.
    The rest of ``toPandas`` is the Arrow-to-pandas conversion. Installed in
    traced runs only."""

    seconds = 0.0

    @classmethod
    def install(cls) -> None:
        from pyspark.sql.pandas.conversion import PandasConversionMixin

        collect = PandasConversionMixin._collect_as_arrow

        def timed(self, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return collect(self, *args, **kwargs)
            finally:
                cls.seconds += time.perf_counter() - t0

        PandasConversionMixin._collect_as_arrow = timed


class Tracer:
    """Spans around calls into engine layers; tags Spark jobs when on."""

    def __init__(self, spark, enabled: bool, prefix: str) -> None:
        self.spark = spark
        self.enabled = enabled
        self.prefix = prefix
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None, tag: bool = False):
        sid = len(self.spans)
        jtag = f"{self.prefix}{sid}" if (tag and self.enabled) else None
        s = Span(sid, name, layer, parent.id if parent else None, jtag, time.perf_counter())
        self.spans.append(s)
        if jtag:
            self.spark.addTag(jtag)
        try:
            yield s
        finally:
            if jtag:
                self.spark.removeTag(jtag)
            s.end = time.perf_counter()


@dataclass
class Run:
    """State shared by the phases of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    data_dir: str
    work_dir: str
    expected: dict
    spark: object = None
    tracer: Tracer | None = None
    attempted: int = 0
    failures: list = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    first_pass: list = field(default_factory=list)   # (op, seconds)
    steady: list = field(default_factory=list)       # per pass: [(op, seconds)]
    storage: list = field(default_factory=list)      # per pass: (relations, MB)
    layer: dict = field(default_factory=dict)        # extra per-layer samples

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}"[:300])

    def sample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)


# --------------------------------------------------------------- set-up


def start_session(run: Run) -> None:
    """Session start and warm-up. The engine import is part of launch."""
    t0 = time.perf_counter()
    from raise_featurestore_spark.session import get_spark

    spark = run.spark = get_spark(f"perfbench-{run.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    run.tracer = Tracer(spark, run.traced, prefix=f"pb{os.getpid()}-")
    if run.traced:
        ArrowClock.install()
    run.setup["session_s"] = t1 - t0
    run.setup["warmup_s"] = t2 - t1


def release(spark) -> tuple[int, float]:
    """Count persisted RDDs and their retained blocks, then drop every
    cached relation so the next pass recomputes."""
    jsc = spark.sparkContext._jsc
    relations = jsc.getPersistentRDDs().size()
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    spark.catalog.clearCache()
    return relations, mb


# ------------------------------------------------------------- queries


def run_query(run: Run, op: str, parent: Span):
    """One query: plan build, then ``toPandas``. Returns (seconds, pandas
    result), or None when the query raised."""
    from raise_featurestore_spark.queries import QUERIES

    tr = run.tracer
    module = catalog.QUERY_MODULE[op]
    try:
        with tr.span(op, module, parent) as s:
            if run.traced:
                with tr.span("plan", module, s, tag=True):
                    df = QUERIES[op](run.spark, run.data_dir)
                with tr.span("exec", module, s, tag=True) as e:
                    before = ArrowClock.seconds
                    pdf = df.toPandas()
                e.attrs["collect_s"] = ArrowClock.seconds - before
                e.attrs["rows"] = len(pdf)
            else:
                pdf = QUERIES[op](run.spark, run.data_dir).toPandas()
    except Exception as ex:  # a failing operation is counted, not fatal
        run.fail(op, f"{type(ex).__name__}: {ex}")
        return None
    return s.seconds, pdf


def check_query(run: Run, op: str, pdf, label: str, reference: dict[str, str]) -> bool:
    """First pass: the oracle's canonical result; later passes: the first
    pass's hash."""
    c = canon(pdf)
    if op not in reference:
        want = run.expected[op]
        if c != want:
            run.fail(op, f"oracle mismatch: rows {c['rows']} vs {want['rows']}, "
                         f"hash {c['hash'][:8]} vs {want['hash'][:8]}")
            return False
        reference[op] = c["hash"]
    elif c["hash"] != reference[op]:
        run.fail(op, f"{label} result differs from the first pass")
        return False
    return True


# ------------------------------------------------------- feature store


class FeatureGroup:
    """The ``orders`` feature group, a live per-status aggregate over it,
    and the model of the rows both must show after every committed write:
    order key -> (status, total price in cents). Set-up time counts the
    feature-group write and the first refresh, not the model."""

    def __init__(self, run: Run) -> None:
        from pyspark.sql import functions as F

        from raise_featurestore_spark.io.writer import read_feature_group, write_feature_group
        from raise_featurestore_spark.streaming.live_table import LiveTable
        from raise_featurestore_spark.tables import load_table

        root = os.path.join(run.work_dir, "feature_store")
        self.path = os.path.join(root, "orders_fg")
        t0 = time.perf_counter()
        orders = load_table(run.spark, run.data_dir, "orders")
        write_feature_group(orders, self.path, mode="overwrite")
        self.live = LiveTable(
            name="orders_by_status",
            compute=lambda sp: read_feature_group(sp, self.path)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")),
            storage_path=os.path.join(root, "orders_live"),
        )
        ev = self.live.refresh(run.spark)
        run.setup["fixture_s"] = time.perf_counter() - t0
        if ev.status != "completed":
            raise RuntimeError(f"live table refresh failed: {ev.error}")
        self.schema = orders.schema
        # an upsert changes only status and price, so its other columns
        # come from the rows as first written
        self.base = orders.toPandas().set_index("o_orderkey", drop=False)
        self.rows = {int(k): (st, round(p * 100)) for k, st, p in zip(
            self.base.o_orderkey, self.base.o_orderstatus, self.base.o_totalprice)}
        self.keys = sorted(self.rows)

    def status_totals(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for status, cents in self.rows.values():
            acc = out.setdefault(status, [0, 0])
            acc[0] += 1
            acc[1] += cents
        return {k: tuple(v) for k, v in out.items()}


# Each feature-store operation returns the seconds of its timed calls and
# raises when it fails or reads a wrong result.


def point_lookup(run: Run, fg: FeatureGroup, rng: random.Random, parent: Span) -> float:
    from raise_featurestore_spark.analytics.record_lookup import point_lookup as lookup
    from raise_featurestore_spark.io.writer import read_feature_group

    keys = rng.sample(fg.keys, KEYS_PER_LOOKUP)
    with run.tracer.span("point_lookup", "analytics.record_lookup", parent, tag=True) as s:
        pdf = lookup(read_feature_group(run.spark, fg.path), "o_orderkey", keys,
                     ["o_orderstatus", "o_totalprice"]).toPandas()
    s.attrs["rows"] = len(pdf)
    got = {int(r.o_orderkey): (r.o_orderstatus, round(r.o_totalprice * 100))
           for r in pdf.itertuples(index=False)}
    if got != {k: fg.rows[k] for k in keys}:
        raise AssertionError("read-your-writes mismatch")
    return s.seconds


def live_query(run: Run, fg: FeatureGroup, rng: random.Random, parent: Span) -> float:
    with run.tracer.span("live_query", "streaming.live_table", parent, tag=True) as s:
        pdf = fg.live.query(run.spark, order_by="-cents", limit=3).toPandas()
    got = {r.o_orderstatus: (int(r.n), int(r.cents)) for r in pdf.itertuples(index=False)}
    if got != fg.status_totals():
        raise AssertionError("live table does not reflect the committed writes")
    return s.seconds


def upsert_refresh(run: Run, fg: FeatureGroup, rng: random.Random, parent: Span) -> float:
    from raise_featurestore_spark.io.writer import write_feature_group

    keys = rng.sample(fg.keys, ROWS_PER_UPSERT)
    batch = fg.base.loc[keys].reset_index(drop=True)
    batch["o_totalprice"] = [round(rng.uniform(1000.0, 500000.0), 2) for _ in keys]
    batch["o_orderstatus"] = [rng.choice("FOP") for _ in keys]
    updates = run.spark.createDataFrame(batch, schema=fg.schema)
    with run.tracer.span("upsert", "io.writer", parent, tag=True) as up:
        write_feature_group(updates, fg.path, mode="upsert", key_columns=["o_orderkey"])
    for k, st, p in zip(keys, batch.o_orderstatus, batch.o_totalprice):
        fg.rows[k] = (st, round(p * 100))
    with run.tracer.span("refresh", "streaming.live_table", parent, tag=True) as rf:
        ev = fg.live.refresh(run.spark)
    if ev.status != "completed":
        raise RuntimeError(f"live table refresh failed: {ev.error}")
    if run.traced:
        record_generation(run, fg, len(keys))
    return up.seconds + rf.seconds


def record_generation(run: Run, fg: FeatureGroup, batch_rows: int) -> None:
    """Storage shape after a committed upsert."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(os.path.realpath(fg.path), "*.parquet"))
    rows = sum(pq.read_metadata(f).num_rows for f in files)
    live_bytes = sum(os.path.getsize(f) for f in files)
    on_disk = 0
    for d in glob.glob(f"{fg.path}__gen_*"):
        for dirpath, _, names in os.walk(d):
            on_disk += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    run.sample("io.writer.rows_rewritten_per_row_updated", rows / batch_rows)
    run.sample("io.writer.files_per_generation", len(files))
    run.sample("io.writer.space_amplification", on_disk / live_bytes)


FEATURE_STORE = {"point_lookup": point_lookup, "live_query": live_query,
                 "upsert_refresh": upsert_refresh}


# -------------------------------------------------------------- passes


def one_pass(run: Run, ops: list[str], fg: FeatureGroup | None, rng: random.Random,
             label: str, reference: dict[str, str]) -> list[tuple[str, float]]:
    """Every operation once, in seeded order; returns (operation, seconds)
    of the operations that succeeded with a correct result."""
    order = list(ops)
    rng.shuffle(order)
    timings = []
    with run.tracer.span(label, "pass") as p:
        for op in order:
            run.attempted += 1
            if op in FEATURE_STORE:
                try:
                    seconds = FEATURE_STORE[op](run, fg, rng, p)
                except Exception as ex:  # counted, not fatal
                    run.fail(op, f"{type(ex).__name__}: {ex}")
                    continue
            else:
                got = run_query(run, op, p)
                if got is None or not check_query(run, op, got[1], label, reference):
                    continue
                seconds = got[0]
            timings.append((op, seconds))
    run.storage.append(release(run.spark))
    return timings


def query_workload(run: Run) -> None:
    ops = catalog.operation_set(run.workload)
    fg = None
    if run.workload == "analytics_interactive":
        fg = FeatureGroup(run)
        ops += FEATURE_STORE_OPS
    rng = random.Random(run.seed)
    reference: dict[str, str] = {}
    run.first_pass = one_pass(run, ops, fg, rng, "first", reference)
    for i in range(steady_passes(run.workload, run.seconds, run.traced)):
        run.steady.append(one_pass(run, ops, fg, rng, f"steady{i}", reference))


WORKLOADS = {
    "analytics_interactive": query_workload,
    "corpus_curation": query_workload,
}
