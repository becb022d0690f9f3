"""Distributed PCA: kernel parity, spectrum math, projection properties."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    from raise_featurestore_spark.tables import load_table

    return load_table(spark, SF_DIR, "embeddings")


def _np_rows(emb):
    rows = sorted(emb.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    return ids, np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])


def test_gram_fast_matches_exact(spark, emb):
    from raise_featurestore_spark.dataprep.pca import gram_check

    out = gram_check(emb, dim=64).collect()
    assert len(out) == 64 * 65 // 2
    assert all(r.within_band for r in out)


def test_pca_fit_matches_numpy(spark, emb):
    from raise_featurestore_spark.dataprep.pca import pca_fit

    model = pca_fit(emb, dim=64, k=4)
    _, X = _np_rows(emb)
    cov = np.cov(X, rowvar=False, ddof=1)
    vals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    np.testing.assert_allclose(model.explained[:8], vals[:8], rtol=1e-8)
    # orthonormal components
    np.testing.assert_allclose(
        model.components @ model.components.T, np.eye(4), atol=1e-10
    )
    # ratios sum to <= 1, descending
    r = model.explained_ratio
    assert np.all(np.diff(r) <= 1e-12)
    assert 0 < r[:4].sum() <= 1 + 1e-12


def test_pca_fit_partition_invariant(spark, emb):
    from raise_featurestore_spark.dataprep.pca import pca_fit

    m1 = pca_fit(emb.repartition(1), dim=64, k=2)
    m32 = pca_fit(emb.repartition(32), dim=64, k=2)
    np.testing.assert_allclose(m1.explained, m32.explained, rtol=1e-9)
    np.testing.assert_allclose(np.abs(m1.components), np.abs(m32.components), atol=1e-8)


def test_pca_project_reduces_reconstruction_error(spark, emb):
    from raise_featurestore_spark.dataprep.pca import pca_fit, pca_project

    ids, X = _np_rows(emb)
    errs = []
    for k in (2, 8):
        model = pca_fit(emb, dim=64, k=k)
        proj = {
            r.vec_id: np.asarray(r.pca)
            for r in pca_project(emb, model).collect()
        }
        P = np.stack([proj[i] for i in ids])
        Xc = X - model.mean
        recon = P @ model.components[:k]
        errs.append(float(((Xc - recon) ** 2).sum()))
        # projection equals numpy ground truth
        np.testing.assert_allclose(P, Xc @ model.components[:k].T, atol=1e-8)
    assert errs[1] < errs[0]


def test_pca_model_requires_n():
    from raise_featurestore_spark.dataprep.pca import PCAModel

    z = np.zeros(2)
    with pytest.raises(TypeError):
        PCAModel(z, np.eye(2), z)
    assert PCAModel(z, np.eye(2), z, n=5).n == 5
