"""Closed-form linear regression as a single aggregation.

Beyond-reference operators (textbook normal-equation least squares, e.g.
Hastie/Tibshirani/Friedman ESL §3.2; ridge per Hoerl & Kennard 1970):
two-regressor OLS / ridge fit per group where TRAINING IS ONE
AGGREGATION — the 100-TB shape.  A 2-feature linear model with intercept
needs only the per-group means plus the centered second-moment matrix,
which one partial-aggregated ``groupBy`` of STABLE co-moment aggregates
(``var_samp`` / ``covar_samp`` — Welford-style, no catastrophic
cancellation on large-offset columns; round-7 fix, see
correlation_matrix's failure mode in operators/profile.py) produces:

    n, x̄1, x̄2, ȳ, var(x1), var(x2), cov(x1,x2), cov(x1,y), cov(x2,y), var(y)

The 2×2 centered normal system (``Sij = (n−1)·cov_ij``) is then solved
IN CLOSED FORM with Column arithmetic on the (tiny) per-group stats
table.  No iteration, no collect, no second scan — the model table is
bounded by group cardinality, never data size.  Ridge shrinks via
``(S11+λ, S22+λ)`` on the centered Gram diagonal with the intercept
left unpenalized (the standard centered-data ridge estimator).

SSE is evaluated with the full quadratic form
``Syy − 2(b1·S1y + b2·S2y) + b1²S11 + 2b1b2·S12 + b2²S22`` (valid for
ANY coefficients, so the same expression serves OLS and ridge; the
familiar ``Syy − b·Sxy`` shortcut holds only at the OLS optimum).
Degenerate groups (singular Gram, zero y-variance) yield null
coefficients rather than failing the job.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

_EPS = 1e-12


def _r4(e: Column) -> Column:
    return F.round(e * 1e4) / 1e4 + F.lit(0.0)


def _fit2(df: DataFrame, group_col: str, x1: str, x2: str, y: str,
          lam: float) -> DataFrame:
    c1 = F.col(x1).cast("double")
    c2 = F.col(x2).cast("double")
    cy = F.col(y).cast("double")
    g = (df.filter(c1.isNotNull() & c2.isNotNull() & cy.isNotNull())
         .groupBy(F.col(group_col).alias("group"))
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.avg(c1).alias("m1"), F.avg(c2).alias("m2"),
              F.avg(cy).alias("my"),
              F.var_samp(c1).alias("v11"), F.var_samp(c2).alias("v22"),
              F.covar_samp(c1, c2).alias("v12"),
              F.covar_samp(c1, cy).alias("v1y"),
              F.covar_samp(c2, cy).alias("v2y"),
              F.var_samp(cy).alias("vyy")))
    n = F.col("n").cast("double")
    m1, m2, my = F.col("m1"), F.col("m2"), F.col("my")
    # centered second moments from stable co-moment aggregates
    # (Sij = (n−1)·cov_ij — no n·mean² cancellation on offset columns)
    nm1 = n - F.lit(1.0)
    S11 = nm1 * F.col("v11") + F.lit(float(lam))
    S22 = nm1 * F.col("v22") + F.lit(float(lam))
    S12 = nm1 * F.col("v12")
    S1y = nm1 * F.col("v1y")
    S2y = nm1 * F.col("v2y")
    Syy = nm1 * F.col("vyy")
    det = S11 * S22 - S12 * S12
    ok = (F.col("n") >= 3) & (F.abs(det) > F.lit(_EPS))
    b1 = (S22 * S1y - S12 * S2y) / det
    b2 = (S11 * S2y - S12 * S1y) / det
    b0 = my - b1 * m1 - b2 * m2
    sse = (Syy - 2.0 * (b1 * S1y + b2 * S2y)
           + b1 * b1 * (S11 - F.lit(float(lam)))
           + 2.0 * b1 * b2 * S12
           + b2 * b2 * (S22 - F.lit(float(lam))))
    r2 = F.when(Syy > F.lit(_EPS), F.lit(1.0) - sse / Syy)
    return g.select(
        "group", "n",
        F.when(ok, _r4(b0)).alias("b0"),
        F.when(ok, _r4(b1)).alias("b1"),
        F.when(ok, _r4(b2)).alias("b2"),
        F.when(ok, _r4(r2)).alias("r2"))


def ols2(df: DataFrame, group_col: str, x1: str, x2: str,
         y: str) -> DataFrame:
    """Per-group ordinary least squares ``y ~ b0 + b1·x1 + b2·x2`` →
    ``(group, n, b0, b1, b2, r2)``, coefficients rounded to 4 decimals.

    One partial-agg groupBy over the scan; the closed-form 2×2 solve
    runs on the per-group stats table (rows = #groups).  Rows with a
    null in any of x1/x2/y are excluded; groups with n < 3 or a
    singular centered Gram return null coefficients; ``r2`` is null
    when the group's y is constant.
    """
    return _fit2(df, group_col, x1, x2, y, lam=0.0)


def ridge2(df: DataFrame, group_col: str, x1: str, x2: str, y: str,
           lam: float = 1.0) -> DataFrame:
    """Per-group ridge regression (centered penalty ``λ`` on both slope
    coefficients, intercept unpenalized) → same shape as :func:`ols2`.
    ``r2`` reports the PLAIN (unpenalized) residual R² of the shrunk
    coefficients — it is ≤ the OLS R² by construction.
    """
    if lam < 0:
        raise ValueError(f"lam must be non-negative, got {lam}")
    return _fit2(df, group_col, x1, x2, y, lam=lam)
