"""Distributed PCA vs numpy on the collected corpus (operators/pca.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.pca import pca_fit, pca_transform

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _numpy_pca(X, k):
    mean = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    flip = np.sign(comps[np.arange(len(comps)), np.argmax(np.abs(comps), axis=1)])
    return mean, comps * flip[:, None], evals[order]


def test_pca_fit_matches_numpy(spark):
    df = spark.read.parquet(EMB)
    X = np.stack([np.array(r["embedding"], dtype=np.float64)
                  for r in df.collect()])
    model = pca_fit(df, n_components=5)
    mean, comps, evals = _numpy_pca(X, 5)
    assert model.n_samples == len(X)
    assert np.allclose(model.mean, mean, atol=1e-9)
    assert np.allclose(model.explained_variance, evals, atol=1e-7)
    # axes match up to the shared deterministic sign convention
    assert np.allclose(np.abs(model.components @ comps.T), np.eye(5), atol=1e-6)
    assert np.allclose(model.components, comps, atol=1e-6)
    # ratios in (0, 1], descending
    r = model.explained_variance_ratio
    assert (r > 0).all() and (np.diff(r) <= 1e-12).all() and r.sum() <= 1 + 1e-9


def test_pca_transform_projects_and_keeps_nulls(spark):
    df = spark.read.parquet(EMB)
    model = pca_fit(df, n_components=3)
    out = pca_transform(df.limit(20), model)
    rows = out.collect()
    assert set(df.columns) < set(rows[0].asDict())
    for r in rows:
        x = np.array(r["embedding"], dtype=np.float64)
        want = (x - model.mean) @ model.components.T
        assert np.allclose(np.array(r["pca"], dtype=np.float64), want, atol=1e-4)
    # null vectors pass through with a null projection
    withnull = spark.createDataFrame([(999, None, 0)],
                                     "vec_id long, embedding array<float>, label int")
    nr = pca_transform(withnull, model).first()
    assert nr["pca"] is None
    # fit refuses degenerate inputs
    with pytest.raises(ValueError, match="at least 2"):
        pca_fit(spark.createDataFrame([(1, [1.0, 2.0])],
                                      "vec_id long, embedding array<float>"),
                vec_col="embedding")
    with pytest.raises(ValueError, match="no vectors"):
        pca_fit(df.filter(F.col("vec_id") < 0))
