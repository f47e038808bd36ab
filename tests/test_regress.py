"""Closed-form OLS / ridge (operators/regress.py)."""

from __future__ import annotations

import math

import pytest

from bid_evaluation_ext.operators.regress import ols2, ridge2


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "g string, x1 double, x2 double, y double")


def test_ols_recovers_exact_plane(spark):
    # y = 1 + 2*x1 + 3*x2 exactly -> coefficients recovered, r2 = 1
    rows = [("a", float(i), float(i * i % 7), 1.0 + 2.0 * i + 3.0 * (i * i % 7))
            for i in range(12)]
    out = ols2(_frame(spark, rows), "g", "x1", "x2", "y").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 12
    assert r["b0"] == pytest.approx(1.0, abs=1e-3)
    assert r["b1"] == pytest.approx(2.0, abs=1e-3)
    assert r["b2"] == pytest.approx(3.0, abs=1e-3)
    assert r["r2"] == pytest.approx(1.0, abs=1e-3)


def test_ols_matches_numpy_lstsq_per_group(spark):
    np = pytest.importorskip("numpy")
    rng_rows = []
    for g in ("a", "b"):
        for i in range(30):
            x1 = (i * 17 % 13) + (0.5 if g == "b" else 0.0)
            x2 = (i * 29 % 11) * 1.5
            noise = math.sin(i * 2.17 + (1 if g == "b" else 0))
            rng_rows.append((g, float(x1), float(x2),
                             3.0 - 1.2 * x1 + 0.7 * x2 + noise))
    out = {r["group"]: r for r in
           ols2(_frame(spark, rng_rows), "g", "x1", "x2", "y").collect()}
    for g in ("a", "b"):
        sub = [r for r in rng_rows if r[0] == g]
        X = np.array([[1.0, r[1], r[2]] for r in sub])
        yv = np.array([r[3] for r in sub])
        beta = np.linalg.lstsq(X, yv, rcond=None)[0]
        assert out[g]["b0"] == pytest.approx(beta[0], abs=1e-3)
        assert out[g]["b1"] == pytest.approx(beta[1], abs=1e-3)
        assert out[g]["b2"] == pytest.approx(beta[2], abs=1e-3)
        pred = X @ beta
        sst = float(((yv - yv.mean()) ** 2).sum())
        sse = float(((yv - pred) ** 2).sum())
        assert out[g]["r2"] == pytest.approx(1 - sse / sst, abs=1e-3)


def test_ols_collinear_gives_null_coefs(spark):
    rows = [("a", float(i), 2.0 * i, float(3 * i + 1)) for i in range(10)]
    r = ols2(_frame(spark, rows), "g", "x1", "x2", "y").collect()[0]
    assert r["b0"] is None and r["b1"] is None and r["b2"] is None


def test_ols_constant_y(spark):
    rows = [("a", float(i), float(i * i % 5), 7.0) for i in range(10)]
    r = ols2(_frame(spark, rows), "g", "x1", "x2", "y").collect()[0]
    assert r["b1"] == pytest.approx(0.0, abs=1e-9)
    assert r["b2"] == pytest.approx(0.0, abs=1e-9)
    assert r["b0"] == pytest.approx(7.0, abs=1e-9)
    assert r["r2"] is None  # zero variance -> R^2 undefined


def test_ridge_shrinks_toward_zero_and_matches_sklearn_formula(spark):
    np = pytest.importorskip("numpy")
    rows = [("a", float(i % 9), float((i * 5) % 7),
             2.0 * (i % 9) - 1.0 * ((i * 5) % 7) + math.cos(i))
            for i in range(40)]
    lam = 25.0
    o = ols2(_frame(spark, rows), "g", "x1", "x2", "y").collect()[0]
    r = ridge2(_frame(spark, rows), "g", "x1", "x2", "y",
               lam=lam).collect()[0]
    # closed-form centered ridge reference
    X = np.array([[row[1], row[2]] for row in rows])
    yv = np.array([row[3] for row in rows])
    Xc = X - X.mean(axis=0)
    yc = yv - yv.mean()
    beta = np.linalg.solve(Xc.T @ Xc + lam * np.eye(2), Xc.T @ yc)
    assert r["b1"] == pytest.approx(beta[0], abs=1e-3)
    assert r["b2"] == pytest.approx(beta[1], abs=1e-3)
    assert abs(r["b1"]) <= abs(o["b1"]) + 1e-9
    assert abs(r["b2"]) <= abs(o["b2"]) + 1e-9
    assert r["r2"] <= o["r2"] + 1e-9


def test_ridge_rejects_negative_lambda(spark):
    with pytest.raises(ValueError):
        ridge2(_frame(spark, [("a", 1.0, 2.0, 3.0)]), "g", "x1", "x2", "y",
               lam=-1.0)


def test_null_rows_excluded(spark):
    rows = [("a", float(i), float(i % 3), float(i + 1)) for i in range(8)]
    rows += [("a", None, 1.0, 2.0), ("a", 1.0, None, 2.0),
             ("a", 1.0, 1.0, None)]
    r = ols2(_frame(spark, rows), "g", "x1", "x2", "y").collect()[0]
    assert r["n"] == 8
