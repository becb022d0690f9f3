"""EXACT Kendall tau-b for every feature pair — no sample cap.

Every pair's tau-b comes from five integer terms:

    tau_b = (n0 − n1 − n2 + n3 − 2·D) / sqrt((n0 − n1)(n0 − n2))

where n0 = n(n−1)/2, n1/n2 = x/y tie pairs, n3 = joint (x, y) tie pairs
and D = discordant pairs = inversions of the y-sequence under the (x, y)
sort. Two kernels compute those terms and share one assembly
(:func:`_assemble_tau_rows`), so their answers are bit-identical:

- :func:`kendall_tau_single_task` — all rows in ONE Python task: a
  lexsort per pair, `_local_inv` for D, run counts for n3. Lazy; it
  serves small inputs and `correlation.py`'s bounded-sample kendall.
- :func:`kendall_tau_matrix` — distributed, O(n log n)-ish work and
  memory bounded by max(partition, bucket) size. Per-feature tie terms
  come from one marginal pass; rows are replicated per pair and ONE
  range exchange sorts them by (pair, x, y). D then decomposes into three
  DISJOINT, individually-distributed terms:

  1. **Within-partition** — each partition counts its own inversions
     with a fully-vectorized mergesort-level kernel (`mapInPandas`,
     memory = its own rows; `_local_inv`, pinned against the Fenwick
     reference kernel).
  2. **Cross-partition, different y-bucket** — per-partition histograms
     over B global y-RANK buckets (distinct y values get bucket ids from
     the distributed rank kernel, so bucket order IS strict y order).
     Pairs in different partitions AND different buckets are fully
     decided by (partition, bucket) order: an exact einsum over the tiny
     P×B cell matrix on the driver.
  3. **Cross-partition, same y-bucket** — rows shuffle by y-bucket
     (~n/B each); within a bucket, inversions by global (x, y) order
     minus each partition's internal inversions leaves exactly the
     cross-partition pairs (`applyInPandas`, memory = bucket rows).

  x-tie safety needs no correction anywhere: the range partitioner and
  all local sorts order by (x, y), so an equal-x pair always has
  ascending y — it can never be counted as an inversion, matching its
  true contribution of zero to D.

Counts are exact int64 inside kernels and DECIMAL(38,0) across the final
aggregation; the formula itself runs on Python ints and one float
division (n0 ~ n²/2 exceeds int64 past ~4.3e9 rows — the decimal path
keeps the COUNTED terms exact well past that). CEILING: the EMITTED
``concordant_minus_discordant`` column is typed ``long``, and |C−D| ≤ n0,
so past ~4.3e9 input rows that one output column NULLs — the driver-hash
dtype contract pins int64 here (a DECIMAL output would flip the rendered
dtype family on both engines); ``corr`` itself stays correct (computed
from the Python ints before the column cast).

Oracle: the direct O(n²) pair definition in DuckDB on the same (bounded)
input — the driver gate runs it at sf0.01 where n² is affordable, and
tests/stress pin equality with the Knight O(n log n) kernel
(`correlation._tau_b`) at up to 1M rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.conf_scope import scoped_checkpoint

DEFAULT_BUCKETS = 64
_COLUMNS = ["feature_a", "feature_b", "n", "concordant_minus_discordant", "corr"]
_SCHEMA = (
    "feature_a string, feature_b string, n long, "
    "concordant_minus_discordant long, corr double"
)


def _fenwick_inversions(yr: np.ndarray, size: int) -> int:
    """#pairs (i < j) with yr[i] > yr[j], ranks in [1, size].

    Reference kernel ONLY (per-row interpreted Python, the hot-loop
    bottleneck at 1M rows): kept for the differential test pinning
    :func:`_local_inv` against it."""
    tree = np.zeros(size + 1, dtype=np.int64)
    inv = 0
    seen = 0
    for r in yr:
        i = int(r)
        s = 0
        while i > 0:  # count inserted ranks <= r
            s += tree[i]
            i -= i & (-i)
        inv += seen - s  # previously inserted with strictly greater rank
        i = int(r)
        while i <= size:
            tree[i] += 1
            i += i & (-i)
        seen += 1
    return int(inv)


def _local_inv(y: np.ndarray) -> int:
    """Inversions of a float sequence (#pairs i < j with y[i] > y[j]; ties
    contribute 0) — fully VECTORIZED mergesort-style counting.

    Level-by-level bottom-up merge: at block width w, every pair whose two
    elements first share a 2w-block (left half index < right half index,
    so original order i < j is preserved) is counted by comparing the
    right half's ranks against the left half's SORTED ranks. All blocks of
    a level are processed in ONE numpy pass: a single lexsort orders ranks
    within every half-block, then block-offset-encoded keys let one global
    ``searchsorted`` answer "how many lefts of MY merge pair exceed my
    rank" for every right element at once (lefts of earlier merge pairs
    appear in both the ≤-rank and ≤-block counts and cancel). O(n log² n)
    total, every op C-side — 20-50× the interpreted Fenwick loop this
    replaces. Ties: dense ranks + side='right' make equal pairs count 0.
    Key domain: half_id ≤ n and stride m ≤ n+2 keep keys < ~n², inside
    int64 for any partition/bucket below ~3e9 rows (far above the
    max(partition, bucket) memory bound anyway)."""
    n = len(y)
    if n < 2:
        return 0
    r = np.searchsorted(np.unique(y), y).astype(np.int64)
    m = int(r.max()) + 2  # key stride: half_id * m + rank is order-faithful
    idx = np.arange(n, dtype=np.int64)
    inv = 0
    width = 1
    while width < n:
        half = idx // width  # half-block id at this level
        order = np.lexsort((r, half))  # ranks sorted within every half-block
        sr = r[order]
        sh = half[order]
        left = (sh & 1) == 0
        lk = (sh[left] >> 1) * m + sr[left]  # ascending by construction
        rpair = sh[~left] >> 1  # merge-pair id of each right element
        rr = sr[~left]
        # lefts in my/earlier merge pairs with rank <= mine
        le = np.searchsorted(lk, rpair * m + rr, side="right")
        # all lefts in my/earlier merge pairs (earlier pairs cancel in tot-le)
        tot = np.searchsorted(lk, (rpair + 1) * m - 1, side="right")
        inv += int((tot - le).sum())
        width <<= 1
    return inv


def kendall_tau_full_sql(
    table: str,
    feature_x: str,
    feature_y: str,
    where: str | None = None,
    round_to: int | None = 4,
) -> str:
    """DuckDB oracle: the direct O(n²) pair definition — affordable at the
    gate's sf0.01 input sizes, and exactly the semantics the distributed
    decomposition must reproduce. All terms are exact integers < 2^53."""
    from raise_featurestore_spark.functions.stable import grid_snap_sql

    w = f" WHERE ({where}) AND " if where else " WHERE "
    # NOT ISNAN mirrors the Spark side's row filter, which drops NaN rows
    # too — IS NOT NULL alone would keep them here and diverge n
    w += (
        f"{feature_x} IS NOT NULL AND {feature_y} IS NOT NULL "
        f"AND NOT ISNAN(CAST({feature_x} AS DOUBLE)) "
        f"AND NOT ISNAN(CAST({feature_y} AS DOUBLE))"
    )
    tau = "CAST(s AS DOUBLE) / SQRT(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))"
    if round_to is not None:
        tau = f"{grid_snap_sql(tau, round_to)} + 0.0"
    return (
        f"WITH __r AS (SELECT ROW_NUMBER() OVER () AS rn, "
        f"CAST({feature_x} AS DOUBLE) AS x, CAST({feature_y} AS DOUBLE) AS y "
        f"FROM {table}{w}), "
        f"__p AS (SELECT SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 "
        f"WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN -1 ELSE 0 END) AS s, "
        f"SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS n1, "
        f"SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS n2, "
        f"COUNT(*) AS n0 FROM __r a JOIN __r b ON a.rn < b.rn), "
        f"__n AS (SELECT COUNT(*) AS n FROM __r) "
        f"SELECT '{feature_x}' AS feature_a, '{feature_y}' AS feature_b, "
        f"CAST(n AS BIGINT) AS n, "
        f"CAST(COALESCE(s, 0) AS BIGINT) AS concordant_minus_discordant, "
        f"CASE WHEN n0 > n1 AND n0 > n2 THEN {tau} END AS corr "
        f"FROM __p, __n"
    )


def kendall_tau_matrix(
    df: DataFrame,
    features: list[str],
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
    round_to: int | None = 4,
    small_n: int = 50_000,
) -> DataFrame:
    """EXACT tau-b for every feature pair — the reference's N×N
    Correlation matrix semantics (raise_/analytics/analysis.py:152-195)
    at full-population exactness, amortized over ONE range exchange
    (a per-pair exchange would re-shuffle the frame N(N−1)/2 times).

    How one range partitioning serves every pair despite each pair
    sorting by a different (x, y): the clean rows are REPLICATED into a
    (pair_id, x, y) frame (posexplode of per-pair structs) and range-
    partitioned by (pair_id, x, y) — partitions are contiguous per pair
    and x-ordered within it, which is all the 3-term decomposition needs.
    Total shuffled bytes equal the N(N−1)/2 separate shuffles; the plan
    has ONE range Exchange, one checkpoint, and two term jobs for ALL
    pairs (plan-asserted in tests). Per-partition memory keeps the
    single-pair bound: partition count scales with the pair count.

    Shared work collapses further: per-feature tie terms and rank-bucket
    boundaries come from ONE posexplode marginal pass (a feature's x-tie
    count is the same in every pair it joins), and per-pair JOINT tie
    pairs ride the term-1 partition pass for free (equal (pair, x, y)
    keys never split across range partitions, so within-partition run
    counting is exact).

    NULL semantics: LISTWISE — a row missing/NaN in ANY feature is
    dropped from every pair, the standard correlation-matrix contract
    (pairwise-complete would make each pair's n differ). For two
    features listwise and pairwise drop are the same filter.

    Inputs of at most ``small_n`` rows (and every input below 2 rows)
    skip the exchange: they return :func:`kendall_tau_single_task` over
    the same filtered rows, bit-identical by the shared assembly.

    Returns one row per unordered pair (i < j in ``features`` order):
    (feature_a, feature_b, n, concordant_minus_discordant, corr).
    """
    from raise_featurestore_spark.functions.prefix import grouped_range_prefix_sums

    if len(features) < 2:
        raise ValueError("kendall_tau_matrix requires >= 2 features")
    spark = df.sparkSession
    k = len(features)
    pairs = [(i, j) for i in range(k) for j in range(i + 1, k)]
    fcols = [F.col(f).cast("double").alias(f"__f{i}") for i, f in enumerate(features)]
    clean = df.select(*fcols)
    for i in range(k):
        c = F.col(f"__f{i}")
        clean = clean.where(c.isNotNull() & ~F.isnan(c))

    # ----- one marginal pass: per-feature value counts feed BOTH the
    # per-feature tie terms and the rank buckets
    marg = scoped_checkpoint(
        clean.select(
            F.posexplode(F.array(*[F.col(f"__f{i}") for i in range(k)])).alias(
                "fi", "v"
            )
        )
        .groupBy("fi", "v")
        .agg(F.count(F.lit(1)).alias("t")),
        eager=True,
    )
    _tp = (F.col("t").cast("decimal(38,0)") * (F.col("t") - 1) / 2).cast(
        "decimal(38,0)"
    )
    trows = (
        marg.groupBy("fi")
        .agg(F.sum(_tp).alias("p"), F.sum("t").alias("n"), F.count(F.lit(1)).alias("nd"))
        .collect()
    )
    tie = {int(r.fi): int(r.p or 0) for r in trows}
    n = int(trows[0].n) if trows else 0
    ndist = {int(r.fi): int(r.nd) for r in trows}
    if n < 2 or n <= small_n:
        # below ~50k rows the bucket grid, range exchange and two term
        # jobs are pure stage overhead (~45-task floors at ~2k rows); one
        # lazy single-task pass over n·k doubles (a few MB) replaces
        # them. scripts/stress_kendall.py (1M rows) exceeds this
        # threshold and keeps exercising the distributed decomposition.
        return kendall_tau_single_task(clean, features, round_to)
    n0 = n * (n - 1) // 2

    # rank buckets per feature (grouped prefix kernel; monotone in v and
    # ~equal-frequency). avg_rank = cum − (t−1)/2 is strictly increasing
    # over distinct v and lives on the ROW scale [1, n], so bucketing it
    # yields ~equal-FREQUENCY buckets (skew-proof) while preserving strict
    # v order between buckets. n-adaptive cap: ≥ ~256 rows per bucket, or
    # the bucket grid is pure task overhead at small filtered inputs —
    # partitioning only, exact at any bucket count (1M stress runs 64 and
    # 16 bit-identical)
    b = min(n_buckets, max(1, n // 256), max(1, max(ndist.values())))
    ranked = grouped_range_prefix_sums(marg, ["fi"], "v", {"__cum": "t"})
    vbuck = ranked.select(
        F.col("fi").alias("__bfi"),
        F.col("v").alias("__bv"),
        F.least(
            F.lit(b - 1),
            (
                (F.col("__cum") - (F.col("t") - F.lit(1)) / F.lit(2.0) - 0.5)
                * b
                / F.lit(float(n))
            ).cast("int"),
        ).alias("__yb"),
    )

    # ----- replicate into (pair, x, y, yfeat) and attach the y bucket
    structs = [
        F.struct(
            F.lit(pi).cast("int").alias("__pair"),
            F.col(f"__f{i}").alias("__x"),
            F.col(f"__f{j}").alias("__y"),
            F.lit(j).cast("int").alias("__yf"),
        )
        for pi, (i, j) in enumerate(pairs)
    ]
    rep = clean.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    total_dist = sum(ndist.values())
    vb = F.broadcast(vbuck) if total_dist <= 2_000_000 else vbuck
    rows = rep.join(
        vb, (F.col("__yf") == F.col("__bfi")) & (F.col("__y") == F.col("__bv"))
    ).select("__pair", "__x", "__y", "__yb")

    # ----- THE one range exchange for every pair. The checkpoint is
    # mandatory: the term jobs read this frame in two scans, and
    # repartitionByRange picks its boundaries by SAMPLING — recomputing it
    # per scan can assign the same row different __pid values, silently
    # dropping/double-counting cross-partition pairs (caught at 30k rows:
    # tau off by ~1e-4 in either direction). Partition count: capped at
    # parallelism × pairs (per-partition memory keeps the single-pair
    # bound at scale), but sized DOWN to the data via the row count the
    # marginal pass already collected. A fixed cap spends ~3 s of per-task
    # Python/Arrow overhead on ~200 near-empty pandas tasks at fixture
    # scale (96 range partitions for 16k replicated rows); ~100k
    # replicated rows per pandas task is a few MB per frame and keeps
    # every core busy once the data warrants it.
    cap = (num_partitions or spark.sparkContext.defaultParallelism) * len(pairs)
    need = max(len(pairs), -(-(n * len(pairs)) // 100_000))
    p = num_partitions * len(pairs) if num_partitions else min(cap, need)
    srt = scoped_checkpoint(
        rows.repartitionByRange(p, "__pair", "__x", "__y")
        .sortWithinPartitions("__pair", "__x", "__y")
        .withColumn("__pid", F.spark_partition_id()),
        eager=True,
    )

    # ----- term 1 + histograms + per-pair joint-tie runs, one pass
    def part_stats(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        pid = int(pdf["__pid"].iloc[0])
        out = []
        for pr, g in pdf.groupby("__pair", sort=False):
            y = g["__y"].to_numpy()
            out.append(
                {"kind": 0, "pair": int(pr), "pid": pid, "yb": -1,
                 "v": _local_inv(y)}
            )
            vals, cnts = np.unique(g["__yb"].to_numpy(), return_counts=True)
            for u, c in zip(vals, cnts):
                out.append(
                    {"kind": 1, "pair": int(pr), "pid": pid, "yb": int(u),
                     "v": int(c)}
                )
            # equal (x, y) keys never split across range partitions, so
            # the per-partition run counts sum to the exact global n3
            n3p = _joint_tie_pairs(g["__x"].to_numpy(), y)
            out.append({"kind": 2, "pair": int(pr), "pid": pid, "yb": -1, "v": n3p})
        yield pd.DataFrame(out)

    def bucket_inv(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__x", "__y"], kind="mergesort")
        total = _local_inv(pdf["__y"].to_numpy())
        within = 0
        for _, g in pdf.groupby("__pid", sort=False):
            within += _local_inv(g["__y"].to_numpy())
        return pd.DataFrame({"pair": [int(key[0])], "v": [total - within]})

    # term 3 rides the SAME collect as the partition stats (kind=3 rows
    # unioned in): ONE driver action launches both scans of the
    # checkpointed srt instead of two ThreadPoolExecutor-raced jobs —
    # fewer driver round-trips and no concurrent planning inside anyone's
    # scoped-conf window.
    term3 = (
        srt.groupBy("__pair", "__yb")
        .applyInPandas(bucket_inv, "pair int, v long")
        .groupBy("pair")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s"))
        .select(
            F.lit(3).alias("kind"),
            F.col("pair").alias("pair"),
            F.lit(-1).alias("pid"),
            F.lit(-1).alias("yb"),
            F.col("s").cast("long").alias("v"),
        )
    )
    stats = (
        srt.mapInPandas(part_stats, "kind int, pair int, pid int, yb int, v long")
        .unionByName(term3)
        .collect()
    )

    d_same: dict[int, int] = {}
    d_local: dict[int, int] = {pi: 0 for pi in range(len(pairs))}
    n3_by: dict[int, int] = {pi: 0 for pi in range(len(pairs))}
    # per-pair DENSE histograms keyed by the pids the
    # pair actually occupies — each pair's rows live in a contiguous pid
    # range of the (pair, x, y) range partitioning, so a global
    # (maxpid x b) matrix per pair cost O(pairs^2 * parallelism * b)
    # driver memory/time; dense rows make it linear in pairs.
    cells: dict[int, dict[int, np.ndarray]] = {pi: {} for pi in range(len(pairs))}
    for r in stats:
        if r.kind == 0:
            d_local[r.pair] += r.v
        elif r.kind == 1:
            row = cells[r.pair].get(r.pid)
            if row is None:
                row = cells[r.pair][r.pid] = np.zeros(b, dtype=np.int64)
            row[r.yb] = r.v
        elif r.kind == 2:
            n3_by[r.pair] += r.v
        else:
            d_same[r.pair] = d_same.get(r.pair, 0) + r.v

    d_by: dict[int, int] = {}
    for pi in range(len(pairs)):
        # sorted GLOBAL pids preserve the pair's x-order (range partition
        # ids are boundary-ordered); dense row index = position in that
        # order — the cross-partition d_diff only needs relative order.
        pids = sorted(cells[pi])
        Mp = (
            np.vstack([cells[pi][q] for q in pids])
            if pids
            else np.zeros((1, b), dtype=np.int64)
        )
        pref = np.cumsum(Mp, axis=0)
        d_diff = 0
        for q in range(1, Mp.shape[0]):
            earlier = pref[q - 1]
            suffix = np.cumsum(earlier[::-1])[::-1]
            higher = np.concatenate([suffix[1:], [0]])
            d_diff += sum(int(a) * int(h) for a, h in zip(Mp[q], higher))
        d_by[pi] = d_local[pi] + d_diff + d_same.get(pi, 0)
    return literal_rows(
        spark,
        _assemble_tau_rows(pairs, features, tie, n, n0, d_by, n3_by, round_to),
        _SCHEMA,
    )


def literal_rows(spark, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-built table as a ONE-partition literal relation
    (``range(1)`` + ``inline``) with the DDL ``schema``. A
    ``createDataFrame`` list scans a defaultParallelism-partition RDD
    instead: the two-feature matrix's distributed result took a median
    0.25 s per action that way at sf0.1 on 4 cores, 0.03 s as a literal."""
    structs = [F.struct(*[F.lit(v) for v in row]) for row in rows]
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*structs).cast(f"array<struct<{schema}>>"))
    )


def _joint_tie_pairs(x: np.ndarray, y: np.ndarray) -> int:
    """Joint tie pairs Σ c(c−1)/2 over the runs of equal (x, y) in an
    (x, y)-sorted sequence."""
    if len(x) < 2:
        return 0
    change = np.empty(len(x), dtype=bool)
    change[0] = True
    change[1:] = (x[1:] != x[:-1]) | (y[1:] != y[:-1])
    rc = np.diff(np.append(np.flatnonzero(change), len(x)))
    return int((rc * (rc - 1) // 2).sum())


def _single_task_rows(a: np.ndarray, features, round_to) -> list[tuple]:
    """Every pair's tau-b row from the (n, k) value matrix ``a`` (column i
    holds ``features[i]``, no NULL/NaN)."""
    n, k = a.shape
    pairs = [(i, j) for i in range(k) for j in range(i + 1, k)]
    tie = {}
    for i in range(k):
        _, c = np.unique(a[:, i], return_counts=True)
        tie[i] = int((c * (c - 1) // 2).sum())
    d_by, n3_by = {}, {}
    for pi, (i, j) in enumerate(pairs):
        order = np.lexsort((a[:, j], a[:, i]))
        xs, ys = a[order, i], a[order, j]
        d_by[pi] = _local_inv(ys)
        n3_by[pi] = _joint_tie_pairs(xs, ys)
    return _assemble_tau_rows(
        pairs, features, tie, n, n * (n - 1) // 2, d_by, n3_by, round_to
    )


def kendall_tau_single_task(
    df: DataFrame, features: list[str], round_to: int | None = 4
) -> DataFrame:
    """Lazy exact tau-b for every feature pair, computed in ONE Python
    task: :func:`kendall_tau_matrix`'s rows for a frame whose columns, in
    order, hold ``features``' values with no NULL/NaN.

    The rows travel as one flat array from a global ``collect_list``
    aggregate, which yields exactly one row even for empty input — so the
    task always runs and an empty frame returns its pairs with n = 0 and
    a NULL corr, as the oracle does. Memory is n·k doubles in one task:
    callers bound n (``small_n``, the sample cap)."""
    k = len(features)
    packed = df.agg(
        F.flatten(
            F.collect_list(F.array(*[F.col(c).cast("double") for c in df.columns]))
        ).alias("__v")
    )

    def run(batches):
        for pdf in batches:
            for v in pdf["__v"]:
                a = np.asarray(v, dtype=np.float64).reshape(-1, k)
                yield pd.DataFrame(
                    _single_task_rows(a, features, round_to), columns=_COLUMNS
                )

    return packed.mapInPandas(run, _SCHEMA)


def _assemble_tau_rows(
    pairs, features, tie, n, n0, d_by, n3_by, round_to
) -> list[tuple]:
    """Final tau-b rows from per-pair discordant/joint-tie counts. Shared
    by the distributed and single-task kernels so both compute the SAME
    integer terms and the SAME deterministic IEEE division + floor
    rounding — bit-identity between them is by construction."""
    import math

    out_rows = []
    for pi, (i, j) in enumerate(pairs):
        d = d_by[pi]
        n1, n2, n3 = tie[i], tie[j], n3_by[pi]
        cmd = n0 - n1 - n2 + n3 - 2 * d
        denom = float(np.sqrt(float(n0 - n1) * float(n0 - n2)))
        tau = (float(cmd) / denom) if denom > 0 else None
        if round_to is not None and tau is not None:
            # grid_snap_sql's FLOOR(x·s + 0.5)/s (Python's round() is
            # banker's and would split exact ties from the oracle); + 0.0
            # canonicalizes −0.0
            s10 = float(10**round_to)
            tau = math.floor(tau * s10 + 0.5) / s10 + 0.0
        cmd_out = int(cmd) if abs(cmd) < 2**63 else None
        out_rows.append((features[i], features[j], n, cmd_out, tau))
    return out_rows


def kendall_tau_matrix_sql(
    table: str,
    features: list[str],
    where: str | None = None,
    round_to: int | None = 4,
) -> str:
    """DuckDB oracle for :func:`kendall_tau_matrix`: the direct O(n²)
    pair definition per feature pair, UNION ALL'd, under the SAME listwise
    row filter (every feature non-null and non-NaN)."""
    listwise = " AND ".join(
        f"{f} IS NOT NULL AND NOT ISNAN(CAST({f} AS DOUBLE))" for f in features
    )
    w = f"({where}) AND {listwise}" if where else listwise
    parts = [
        kendall_tau_full_sql(table, features[i], features[j], where=w,
                             round_to=round_to)
        for i in range(len(features))
        for j in range(i + 1, len(features))
    ]
    return " UNION ALL ".join(f"SELECT * FROM ({p})" for p in parts)
