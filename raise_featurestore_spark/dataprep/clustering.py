"""Distributed k-means (Lloyd's) over an embedding column.

Training-data pipelines cluster corpus embeddings for topic balance,
diversity-aware sampling, and SemDeDup-style pruning. The reference has no
clustering operator (§2.14 engine addition); `similarity.py` fits a small
IVF quantizer on a bounded driver-side sample — THIS module is the
full-corpus variant: every E-step and M-step is a DataFrame op, and only
the k×dim centroid table ever touches the driver.

Plan shape per iteration (the canonical distributed Lloyd's):

- **E-step (assign)**: centroids are embedded as literal arrays, so
  assignment is pure map-side column arithmetic — no join, no shuffle of
  the corpus. Distance = sequential fold over zip_with diffs
  (JVM-side, whole-stage codegen), snapped to the 5-significant-digit grid
  (`functions/stable.sig_round`) before the argmin so last-ulp summation
  differences between engines cannot flip an assignment; ties break on
  cluster id via array_min over (dist, cluster) structs.
- **M-step (update)**: one partial-aggregated groupBy producing k×dim
  means (sig-rounded in-plan on BOTH engines), collected to the driver
  (k rows — bounded) and re-embedded as literals for the next E-step.
  Clusters that lose every point keep their previous centroid.

At 100 TB: `iters` corpus scans for the fit plus one for the report; the
only shuffles are the k-row M-step aggregates. Persist the projected
(id, vec) frame upstream if the source scan is expensive — the loop
caches it for its own iterations in a nested ``cache_scope`` that releases
it before returning.

Oracle: `kmeans_report_sql` / `cluster_balanced_sample_sql` regenerate the
entire iterative computation as chained CTEs (assignment via a
ROW_NUMBER argmin with the same snapped distance and tie-break), so DuckDB
reproduces cluster sizes, inertia, and sampled members exactly.

Init is deterministic: the k lowest-id vectors, cluster = id rank. Good
enough for a correctness-checked operator; swap in k-means|| seeding
upstream if cluster quality matters more than reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.conf_scope import cache_scope, scoped_persist
from raise_featurestore_spark.functions.stable import sig_round, sig_round_sql

DEFAULT_K = 8
DEFAULT_ITERS = 2


def _assign(pts: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Map-side argmin over literal centroids → (id, v, cluster, dist).

    The centroid matrix rides in as ONE ``from_json`` string literal
    (constant-folded by Catalyst into a single array<array<double>>
    Literal) and the per-centroid distance loop is a ``transform`` over
    cluster indices — NOT k separate 64-literal array expressions. The
    old expanded form put ~k·dim literal nodes plus k fold chains into
    the plan, and since each Lloyd's iteration embeds NEW centroid
    values, Catalyst re-analyzed that tree every iteration: ~2 s of
    DRIVER time per M-step at k=8, dim=64 (measured — execution over the
    rows was milliseconds). Same op sequence per element (sequential
    left fold, sig_round, (d, c) struct min), so assignments and the
    DuckDB oracle are bit-identical to the expanded form."""
    import json as _json

    k = len(cents)
    cents_json = _json.dumps([list(map(float, cents[c])) for c in sorted(cents)])
    carr = F.from_json(F.lit(cents_json), "array<array<double>>")
    idx = F.sequence(F.lit(0), F.lit(k - 1))

    def _cand(i: Column) -> Column:
        cvec = F.element_at(carr, i + 1)
        diff = F.zip_with(F.col("v"), cvec, lambda x, c: (x - c) * (x - c))
        dist = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
        return F.struct(sig_round(dist).alias("d"), i.cast("int").alias("c"))

    best = F.array_min(F.transform(idx, _cand))
    return pts.select(
        "id", "v", best["c"].alias("cluster"), best["d"].alias("dist")
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
) -> DataFrame:
    """Run ``iters`` Lloyd's iterations; return the final assignment frame
    (id, v, cluster, dist) — dist is the snapped squared distance to the
    assigned centroid."""
    pts = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    init = pts.orderBy("id").limit(k).collect()
    if not init or init[0].v is None:
        # empty corpus (or null vectors): empty assignment with the right
        # schema — downstream reports/samples become empty, not a crash
        return pts.select(
            "id", "v", F.lit(0).alias("cluster"), F.lit(0.0).alias("dist")
        ).where(F.lit(False))
    cents = {i: list(r.v) for i, r in enumerate(init)}
    dim = len(init[0].v)
    with cache_scope():
        pts = scoped_persist(pts)
        for _ in range(iters - 1):
            assigned = _assign(pts, cents)
            # M-step as ONE posexplode + (cluster, dim) aggregate, not dim
            # separate avg(v[d]) aggregates: the expanded form re-entered
            # Catalyst analysis + codegen with a fresh ~dim-wide aggregate
            # plan EVERY iteration (new centroid literals ⇒ new plan) —
            # 2-5 s of driver time per M-step at dim=64 vs milliseconds of
            # actual execution (2k rows). The exploded row stream partial-
            # aggregates map-side before the k×dim-row shuffle, so the
            # scale posture is unchanged; sig_round (applied engine-side
            # over the k×dim grouped result, as before) absorbs the
            # summation-order ulp between the two physical forms.
            upd = (
                assigned.select(
                    "cluster", F.posexplode(F.col("v")).alias("d", "x")
                )
                .groupBy("cluster", "d")
                .agg(F.avg("x").alias("m"))
                .select("cluster", "d", sig_round(F.col("m")).alias("m"))
                .collect()
            )
            new_cents: dict[int, list[float]] = {}
            for r in upd:
                new_cents.setdefault(r.cluster, [0.0] * dim)[r.d] = r.m
            for cid, vec in new_cents.items():
                cents[cid] = vec
        return _assign(pts, cents)


def kmeans_report(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
) -> DataFrame:
    """(cluster, n_points, inertia): size and snapped within-cluster SSE."""
    assigned = kmeans_fit(df, id_col, vec_col, k, iters)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        sig_round(F.sum("dist")).alias("inertia"),
    )


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
    per_cluster: int = 5,
) -> DataFrame:
    """Diversity sample: ``per_cluster`` members per k-means cluster,
    picked by deterministic md5 order (grouped top-k — lowered to a
    partial/final TakeOrdered per cluster key, never a global sort)."""
    from pyspark.sql import Window

    from raise_featurestore_spark.dataprep import hashing as H

    assigned = kmeans_fit(df, id_col, vec_col, k, iters)
    ranked = assigned.withColumn(
        "__rk", H.h32(F.col("id").cast("string"))
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster").orderBy("__rk", "id")
        ),
    )
    return ranked.where(F.col("rn") <= per_cluster).select(
        "cluster", F.col("id").alias(id_col)
    )


# ------------------------------------------------------------------ SQL twin


def _kmeans_ctes(
    table: str, id_col: str, vec_col: str, k: int, iters: int, dim: int
) -> str:
    """WITH-clause body computing the final assignment CTE ``a{iters}``."""
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    parts = [
        f"pts AS (SELECT {id_col} AS id, {v} AS v FROM {table})",
        f"c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster, v AS c "
        f"FROM (SELECT id, v FROM pts ORDER BY id LIMIT {k}) __init)",
    ]
    dist = (
        "list_sum(list_transform(range(1, {dim1}), "
        "__d -> (p.v[__d] - c.c[__d]) * (p.v[__d] - c.c[__d])))"
    ).format(dim1=dim + 1)
    dist = sig_round_sql(dist)
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS (SELECT id, v, cluster, dist FROM ("
            f"SELECT p.id, p.v, c.cluster, {dist} AS dist, "
            f"ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY {dist}, c.cluster) AS rn "
            f"FROM pts p CROSS JOIN c{t - 1} c) __a WHERE rn = 1)"
        )
        if t < iters:
            m = sig_round_sql("AVG(v[__d.d])")
            parts.append(
                f"u{t} AS (SELECT cluster, list(m ORDER BY d) AS c FROM ("
                f"SELECT cluster, __d.d AS d, {m} AS m FROM a{t}, "
                f"UNNEST(range(1, {dim + 1})) AS __d(d) GROUP BY cluster, __d.d) __u "
                f"GROUP BY cluster)"
            )
            parts.append(
                f"c{t} AS (SELECT prev.cluster, COALESCE(u.c, prev.c) AS c "
                f"FROM c{t - 1} prev LEFT JOIN u{t} u USING (cluster))"
            )
    return ", ".join(parts)


def kmeans_report_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
    dim: int = 64,
) -> str:
    ctes = _kmeans_ctes(table, id_col, vec_col, k, iters, dim)
    inertia = sig_round_sql("SUM(dist)")
    return (
        f"WITH {ctes} SELECT cluster, COUNT(*) AS n_points, "
        f"{inertia} AS inertia FROM a{iters} GROUP BY cluster"
    )


def cluster_balanced_sample_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = DEFAULT_K,
    iters: int = DEFAULT_ITERS,
    dim: int = 64,
    per_cluster: int = 5,
) -> str:
    from raise_featurestore_spark.dataprep import hashing as H

    ctes = _kmeans_ctes(table, id_col, vec_col, k, iters, dim)
    rk = H.h32_sql("CAST(id AS VARCHAR)")
    return (
        f"WITH {ctes} SELECT cluster, id AS {id_col} FROM ("
        f"SELECT cluster, id, ROW_NUMBER() OVER (PARTITION BY cluster "
        f"ORDER BY {rk}, id) AS rn FROM a{iters}) __s WHERE rn <= {per_cluster}"
    )
