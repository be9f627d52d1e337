"""Pinned PCA serving model: fit semantics.

Parity with the DuckDB oracle is covered by test_oracle_parity (the
registry auto-parametrizes); these tests pin the FIT semantics the
pinned artifact must satisfy.
"""

from __future__ import annotations

import pytest

from msstreamingstack_spark.operators import pca as pca_mod
from msstreamingstack_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# PCA fit: orthonormal, variance-ordered, matches numpy on the fixture
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def pca_fit(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    return pca_mod.fit_pca_pinned(emb, q=4), emb


def test_pca_components_orthonormal(pca_fit):
    import numpy as np

    pin, _ = pca_fit
    V = np.array(pin["components"])
    G = V @ V.T
    assert np.allclose(G, np.eye(V.shape[0]), atol=1e-6)


def test_pca_evr_descending_and_bounded(pca_fit):
    pin, _ = pca_fit
    evr = pin["evr"]
    assert all(e >= 0 for e in evr)
    assert sum(evr) <= 1.0 + 1e-9
    assert evr == sorted(evr, reverse=True)


def test_pca_fit_matches_numpy(pca_fit):
    """Distributed moment fold == numpy full-matrix PCA (same data,
    both float64): eigenvalues and |projection| of the top component
    agree to 1e-6."""
    import numpy as np

    pin, emb = pca_fit
    X = np.stack(
        [r["embedding"] for r in emb.select("embedding").collect()]
    ).astype("float64")
    mu = X.mean(axis=0)
    cov = np.cov(X.T, bias=True)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    total = evals.clip(min=0).sum()
    np_evr = evals[:4] / total
    assert np.allclose(np_evr, pin["evr"], atol=1e-6)
    assert np.allclose(mu, pin["mean"], atol=1e-6)


def test_pca_sign_pin(pca_fit):
    import numpy as np

    pin, _ = pca_fit
    for comp in pin["components"]:
        v = np.array(comp)
        assert v[int(np.argmax(np.abs(v)))] > 0


def test_pca_projection_matches_model(spark, sf_smoke):
    """Pinned projection (DECIMAL fold) == numpy (X-mu)@V.T within
    the 9-decimal rounding budget."""
    import numpy as np

    emb = load_table(spark, sf_smoke, "embeddings")
    pin = pca_mod.load_pinned()
    got = {
        r["vec_id"]: [r[f"pc{j + 1}"] for j in range(pin["meta"]["q"])]
        for r in pca_mod.project_pinned(emb).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    X = np.stack([r["embedding"] for r in rows]).astype("float64")
    ids = [r["vec_id"] for r in rows]
    V = np.array(pin["components"])
    P = (X - np.array(pin["mean"])) @ V.T
    for i, vid in enumerate(ids):
        assert np.allclose(got[vid], P[i], atol=1e-6), vid
