"""Distributed PCA over embedding columns: Gram/covariance accumulation at
corpus scale, eigendecomposition at driver scale.

The decomposition mirrors BPE (dataprep/bpe.py): the corpus-scale half is
a SUM (here: the d×d Gram/covariance matrix — one pass, map-side
partials, merge-associative), and the sequential half (eigh of a d×d
matrix, d ≤ a few thousand) is driver math by nature. A 100 TB embedding
table flows through Spark exactly once per fit.

Two Gram kernels, verdicted against each other:

- ``gram_exact``: JVM-side — explode the (i ≤ j) index pairs per row and
  dec_sum the products (exact decimal accumulation on an 1e-8 grid →
  partition-order-free, oracle-checkable in DuckDB). Explode factor is
  d(d+1)/2 per row — the CHECK path, not the scale path.
- ``gram_fast``: one ``mapInPandas`` pass emitting a per-batch partial
  Gram (numpy matmul, Arrow-batched), then one tiny groupBy sum over
  ≤ partitions × d² cells. This is the 100 TB path: per-row cost is the
  matmul flop, no explosion, and the shuffle moves only partial matrices.

``gram_check`` runs both in ONE plan and emits the exact (snapped) value
plus a relative-error band boolean per cell — the driver's oracle gets
DuckDB-exact values AND literal TRUEs, so the Pandas kernel is verdicted
cross-engine every round (the agg_global_stats_approx pattern).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raise_featurestore_spark.functions.stable import (
    dec_sum,
    dec_sum_sql,
    sig_round,
)

#: products of unit-scale embedding components sit on a 1e-8 grid snap —
#: 1e-4 (the price grid) would quantize ~1% of a typical product's value
GRAM_GRID = 8
#: fast-vs-exact tolerance: float partial sums agree with the exact
#: decimal sum to ~1e-12 relative; 1e-6 leaves six orders of margin
GRAM_BAND = 1e-6


def gram_exact(df: DataFrame, dim: int, emb_col: str = "embedding") -> DataFrame:
    """Upper-triangle Gram entries (i, j, gram) via JVM explode + exact
    decimal sums. O(d²) row expansion — the verdict kernel."""
    e = F.col(emb_col)
    # two sequence-explodes, not a d(d+1)/2-literal struct array: the
    # latter is a ~10⁴-node expression tree that stalls analysis/codegen
    idx = F.sequence(F.lit(1), F.lit(dim))
    p = F.element_at(F.col("__e"), F.col("i")).cast("double") * F.element_at(
        F.col("__e"), F.col("j")
    ).cast("double")
    return (
        df.where(F.size(e) == dim)
        .select(e.alias("__e"), F.explode(idx).alias("i"))
        .select("__e", "i", F.explode(idx).alias("j"))
        .where(F.col("j") >= F.col("i"))
        .select("i", "j", p.alias("p"))
        .groupBy("i", "j")
        .agg(dec_sum(F.col("p"), grid_decimals=GRAM_GRID).alias("gram"))
    )


def gram_exact_sql(table: str, dim: int, emb_col: str = "embedding") -> str:
    """DuckDB twin of :func:`gram_exact`."""
    p = (
        f"CAST({emb_col}[i] AS DOUBLE) * CAST({emb_col}[j] AS DOUBLE)"
    )
    return (
        f"SELECT i, j, {dec_sum_sql('(' + p + ')', grid_decimals=GRAM_GRID)} AS gram "
        f"FROM {table}, range(1, {dim + 1}) __ri(i), range(1, {dim + 1}) __rj(j) "
        f"WHERE len({emb_col}) = {dim} AND j >= i GROUP BY i, j"
    )


def dim_sums(df: DataFrame, dim: int, emb_col: str = "embedding") -> DataFrame:
    """Per-dimension exact-decimal sums (i, s) — the first-moment side of
    the covariance bridge (`embedding_pca_frobenius_check`). Same grid as
    the Gram so cov(i,j) arithmetic sees identical doubles on both engines."""
    e = F.col(emb_col)
    idx = F.sequence(F.lit(1), F.lit(dim))
    return (
        df.where(F.size(e) == dim)
        .select(e.alias("__e"), F.explode(idx).alias("i"))
        .select("i", F.element_at(F.col("__e"), F.col("i")).cast("double").alias("x"))
        .groupBy("i")
        .agg(dec_sum(F.col("x"), grid_decimals=GRAM_GRID).alias("s"))
    )


def dim_sums_sql(table: str, dim: int, emb_col: str = "embedding") -> str:
    """DuckDB twin of :func:`dim_sums`."""
    return (
        f"SELECT i, {dec_sum_sql(f'CAST({emb_col}[i] AS DOUBLE)', grid_decimals=GRAM_GRID)} AS s "
        f"FROM {table}, range(1, {dim + 1}) __ri(i) "
        f"WHERE len({emb_col}) = {dim} GROUP BY i"
    )


def gram_fast(
    df: DataFrame, dim: int, emb_col: str = "embedding"
) -> DataFrame:
    """Full Gram via one Arrow-batched matmul pass: each batch contributes
    a flattened partial X᷀X (plus n), merged by ONE d²-cell sum. The scale
    path — at 1000 executors the shuffle holds partial matrices, not rows."""
    out_schema = "cell int, val double"

    def partial(batches):
        G = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for pdf in batches:
            vecs = [v for v in pdf[emb_col].to_numpy() if v is not None and len(v) == dim]
            if not vecs:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            G += X.T @ X
            seen = True
        if seen:
            yield pd.DataFrame(
                {"cell": np.arange(dim * dim), "val": G.reshape(-1)}
            )

    partials = df.select(emb_col).mapInPandas(partial, out_schema)
    return (
        partials.groupBy("cell")
        .agg(F.sum("val").alias("gram"))
        .select(
            (F.col("cell") / dim + 1).cast("int").alias("i"),
            (F.col("cell") % dim + 1).cast("int").alias("j"),
            "gram",
        )
    )


def gram_check(
    df: DataFrame, dim: int, emb_col: str = "embedding"
) -> DataFrame:
    """One plan, both kernels: (i, j, gram[exact, snapped], within_band).
    The oracle recomputes gram from the exact SQL twin and emits literal
    TRUE — so a drifting Pandas kernel fails the driver hash."""
    exact = gram_exact(df, dim, emb_col)
    fast = gram_fast(df, dim, emb_col).where(F.col("j") >= F.col("i"))
    joined = exact.alias("e").join(
        fast.alias("f").withColumnRenamed("gram", "gram_fast"), ["i", "j"]
    )
    band = (
        F.abs(F.col("gram_fast") - F.col("gram"))
        <= F.lit(GRAM_BAND) * F.greatest(F.abs(F.col("gram")), F.lit(1.0))
    )
    return joined.select(
        "i", "j", sig_round(F.col("gram")).alias("gram"), band.alias("within_band")
    )


def gram_check_sql(table: str, dim: int, emb_col: str = "embedding") -> str:
    from raise_featurestore_spark.functions.stable import sig_round_sql

    return (
        f"SELECT i, j, {sig_round_sql('gram')} AS gram, TRUE AS within_band "
        f"FROM ({gram_exact_sql(table, dim, emb_col)}) __g"
    )


# ------------------------------------------------------------------- PCA


class PCAModel:
    """Fitted PCA: mean vector + top-k components (rows) + spectrum.

    ``n`` is the valid-vector count the moments were computed over (rows
    with a non-null, dim-length embedding) — exposed so callers that need
    the same count (e.g. the covariance denominator in the spectral
    bridge queries) can reuse it instead of running a second count job
    over the corpus (value-identical by construction: the SQL twin's
    ``len(embedding) = dim`` predicate selects the same rows). It is
    required: no default count gives a meaningful denominator."""

    def __init__(
        self,
        mean: np.ndarray,
        components: np.ndarray,
        explained: np.ndarray,
        n: int,
    ):
        self.mean = mean
        self.components = components  # (k, d), orthonormal rows
        self.explained = explained  # (d,) eigenvalues, descending
        self.n = n  # valid-vector count behind the moments

    @property
    def explained_ratio(self) -> np.ndarray:
        tot = float(self.explained.sum())
        return self.explained / tot if tot > 0 else self.explained


def _moment_pass(
    df: DataFrame, dim: int, emb_col: str = "embedding"
) -> tuple[float, np.ndarray, np.ndarray]:
    """ONE distributed pass over the embeddings: mapInPandas partials carry
    (n, Σx, X᷀X), merged by a tiny groupBy sum. Shared by :func:`pca_fit`
    and :func:`covariance_matrix`."""
    schema = "kind int, cell int, val double"

    def partial(batches):
        G = np.zeros((dim, dim), dtype=np.float64)
        s = np.zeros(dim, dtype=np.float64)
        n = 0
        for pdf in batches:
            vecs = [v for v in pdf[emb_col].to_numpy() if v is not None and len(v) == dim]
            if not vecs:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            G += X.T @ X
            s += X.sum(0)
            n += len(X)
        if n:
            yield pd.DataFrame(
                {
                    "kind": [0] * (dim * dim) + [1] * dim + [2],
                    "cell": list(range(dim * dim)) + list(range(dim)) + [0],
                    "val": np.concatenate([G.reshape(-1), s, [float(n)]]),
                }
            )

    rows = (
        df.select(emb_col)
        .mapInPandas(partial, schema)
        .groupBy("kind", "cell")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    G = np.zeros((dim, dim))
    s = np.zeros(dim)
    n = 0.0
    for r in rows:
        if r.kind == 0:
            G[r.cell // dim, r.cell % dim] = r.val
        elif r.kind == 1:
            s[r.cell] = r.val
        else:
            n = r.val
    return n, s, G


def covariance_matrix(df: DataFrame, dim: int, emb_col: str = "embedding") -> np.ndarray:
    """Driver-side d×d sample covariance via the one-pass moment kernel —
    the independent reconstruction the per-eigenvalue Rayleigh-residual
    verdict checks (λ, v) pairs against."""
    n, s, G = _moment_pass(df, dim, emb_col)
    if n < 2:
        raise ValueError(f"covariance needs >= 2 vectors of dim {dim}, got {int(n)}")
    return (G - np.outer(s, s) / n) / (n - 1.0)


def pca_fit(
    df: DataFrame, dim: int, k: int, emb_col: str = "embedding"
) -> PCAModel:
    """Fit PCA from the one-pass distributed moments (:func:`_moment_pass`);
    the driver assembles the covariance and runs ``eigh`` (d×d —
    driver-scale by definition). Component signs are canonicalized
    (largest-|coordinate| positive) so fits are reproducible."""
    n, s, G = _moment_pass(df, dim, emb_col)
    if n < 2:
        raise ValueError(f"PCA needs >= 2 vectors of dim {dim}, got {int(n)}")
    mean = s / n
    cov = (G - np.outer(s, s) / n) / (n - 1.0)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    vals, vecs = np.maximum(vals[order], 0.0), vecs[:, order]
    comps = vecs[:, :k].T.copy()
    for row in comps:  # sign canonicalization
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return PCAModel(mean, comps, vals, n=int(n))


def pca_project(
    df: DataFrame,
    model: PCAModel,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pca",
) -> DataFrame:
    """Project rows onto the fitted components — one Arrow matmul per
    batch, components ride the closure (a broadcast at cluster scale)."""
    from pyspark.sql.functions import pandas_udf

    mean, comps = model.mean, model.components
    dim = mean.shape[0]

    def proj(ss: pd.Series) -> pd.Series:
        out = []
        for v in ss.to_numpy():
            if v is None or len(v) != dim:
                out.append(None)
            else:
                out.append(
                    ((np.asarray(v, dtype=np.float64) - mean) @ comps.T).tolist()
                )
        return pd.Series(out)

    return df.select(
        id_col, pandas_udf(proj, "array<double>")(F.col(emb_col)).alias(out_col)
    )
