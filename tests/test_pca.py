"""Distributed PCA (similarity.pca_fit / pca_project): numpy full-batch
twin agreement, orthonormal/descending invariants, whitening identity
covariance, layout stability, and reconstruction-error monotonicity."""

from __future__ import annotations

import numpy as np
import pytest

from super_speedy_syslog_searcher_spark.operators.similarity import pca_fit, pca_project


def _gen(n=400, d=12, seed=5):
    rng = np.random.default_rng(seed)
    # anisotropic cloud: a few dominant directions
    basis = rng.standard_normal((d, d))
    scales = np.array([10, 6, 3] + [0.5] * (d - 3))
    X = rng.standard_normal((n, d)) * scales @ basis
    return X + rng.standard_normal(d) * 2.0


def _df(spark, X):
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )


class TestPcaFit:
    def test_matches_numpy_twin(self, spark):
        X = _gen()
        Xf = X.astype(np.float32).astype(np.float64)  # what Spark stores
        mean, comps, ev = pca_fit(_df(spark, X), k=4)
        np.testing.assert_allclose(mean, Xf.mean(axis=0), atol=1e-8)
        cov = np.cov(Xf.T, bias=True)
        w, v = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1][:4]
        np.testing.assert_allclose(ev, w[order], rtol=1e-6)
        for i, j in enumerate(order):
            ref = v[:, j]
            # agreement up to sign
            assert abs(float(comps[i] @ ref)) > 1 - 1e-8, i

    def test_components_orthonormal_and_descending(self, spark):
        X = _gen(seed=9)
        _, comps, ev = pca_fit(_df(spark, X), k=5)
        np.testing.assert_allclose(comps @ comps.T, np.eye(5), atol=1e-8)
        assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(4))
        # deterministic sign rule
        for c in comps:
            assert c[int(np.argmax(np.abs(c)))] > 0

    def test_layout_stable(self, spark):
        X = _gen(seed=13)
        df = _df(spark, X)
        m1, c1, e1 = pca_fit(df.coalesce(1), k=3)
        m2, c2, e2 = pca_fit(df.repartition(13), k=3)
        np.testing.assert_allclose(m1, m2, atol=1e-9)
        np.testing.assert_allclose(e1, e2, rtol=1e-9)
        np.testing.assert_allclose(c1, c2, atol=1e-7)

    def test_empty_raises(self, spark):
        df = spark.createDataFrame([], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="empty"):
            pca_fit(df, k=2)


class TestPcaProject:
    def test_projection_variance_equals_eigenvalue(self, spark):
        X = _gen(seed=21)
        df = _df(spark, X)
        mean, comps, ev = pca_fit(df, k=3)
        P = np.stack([
            np.asarray(r["pca"], dtype=np.float64)
            for r in pca_project(df, mean, comps, ev).orderBy("vec_id").collect()
        ])
        np.testing.assert_allclose(P.var(axis=0, ddof=0), ev, rtol=1e-3)
        np.testing.assert_allclose(P.mean(axis=0), 0.0, atol=1e-3)

    def test_whitened_covariance_is_identity(self, spark):
        X = _gen(seed=23)
        df = _df(spark, X)
        mean, comps, ev = pca_fit(df, k=4)
        P = np.stack([
            np.asarray(r["pca"], dtype=np.float64)
            for r in pca_project(df, mean, comps, ev, whiten=True).orderBy("vec_id").collect()
        ])
        np.testing.assert_allclose(np.cov(P.T, bias=True), np.eye(4), atol=1e-2)

    def test_whiten_requires_eigenvalues(self, spark):
        X = _gen(n=20)
        df = _df(spark, X)
        mean, comps, _ = pca_fit(df, k=2)
        with pytest.raises(ValueError, match="explained_var"):
            pca_project(df, mean, comps, None, whiten=True)

    def test_reconstruction_error_decreases_with_k(self, spark):
        X = _gen(seed=27)
        df = _df(spark, X)
        errs = []
        for k in (1, 3, 6):
            mean, comps, ev = pca_fit(df, k=k)
            P = np.stack([
                np.asarray(r["pca"], dtype=np.float64)
                for r in pca_project(df, mean, comps, ev).orderBy("vec_id").collect()
            ])
            recon = P @ comps + mean
            Xf = X.astype(np.float32).astype(np.float64)
            errs.append(float(((Xf - recon) ** 2).mean()))
        assert errs[0] > errs[1] > errs[2]
