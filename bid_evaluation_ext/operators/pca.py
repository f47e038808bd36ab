"""Distributed PCA over an embedding column (fit → project).

Beyond-reference operator: the standard preprocessing in front of ANN
indexing (IVF-PCA / OPQ pipelines) and embedding-drift analysis. The
eigendecomposition itself is not SQL-expressible, so this component is
verified by a differential test against numpy on the collected corpus
(``tests/test_pca.py``) rather than a DuckDB oracle.

Scale shape (the classic one-pass covariance sketch):

- **Fit**: each Arrow batch reduces to its partial second-moment
  statistics — count, per-dim sum, and the flattened d×d gram matrix —
  emitted as (i, j, value) rows. One partially-aggregated ``groupBy``
  shuffle sums them; the driver receives d² + d + 1 numbers (d = 64 →
  ~4 k), assembles the covariance, and runs ``numpy.linalg.eigh``. The
  vectors themselves never leave the executors.
- **Project**: the (k × d) component matrix broadcasts; projection is one
  numpy matmul per Arrow batch (map-only, no shuffle).

Eigenvector sign is normalized (largest-|entry| positive) so results are
deterministic across BLAS builds.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


class PCAModel(NamedTuple):
    """Fitted PCA: feature means, (k × d) components, per-component stats."""
    mean: np.ndarray
    components: np.ndarray          # rows = principal axes, descending var
    explained_variance: np.ndarray  # eigenvalues (sample covariance)
    explained_variance_ratio: np.ndarray
    n_samples: int


def pca_fit(df: DataFrame, n_components: int = 8,
            vec_col: str = "embedding") -> PCAModel:
    """Fit PCA on an embedding column without collecting the vectors."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            d = X.shape[1]
            gram = X.T @ X                     # (d, d)
            s = X.sum(axis=0)                  # (d,)
            i, j = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            out = pd.DataFrame({
                "i": np.concatenate([i.ravel(), np.arange(d), [-1]]),
                "j": np.concatenate([j.ravel(), np.full(d, -1), [-1]]),
                "v": np.concatenate([gram.ravel(), s, [float(len(X))]]),
            })
            yield out

    rows = (
        df.select(F.col(vec_col).alias("_v")).filter(F.col("_v").isNotNull())
        .mapInPandas(partials, "i int, j int, v double")
        .groupBy("i", "j").agg(F.sum("v").alias("v"))
        .collect()
    )
    if not rows:
        raise ValueError("no vectors to fit PCA on")
    d = max(r["i"] for r in rows) + 1
    gram = np.zeros((d, d))
    s = np.zeros(d)
    n = 0.0
    for r in rows:
        if r["i"] == -1:
            n = r["v"]
        elif r["j"] == -1:
            s[r["i"]] = r["v"]
        else:
            gram[r["i"], r["j"]] = r["v"]
    if n < 2:
        raise ValueError(f"need at least 2 vectors, got {int(n)}")
    mean = s / n
    cov = (gram - np.outer(mean, s) - np.outer(s, mean) + n * np.outer(mean, mean))
    cov /= (n - 1)
    evals, evecs = np.linalg.eigh(cov)        # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T                 # (k, d)
    # deterministic sign: the largest-|x| entry of each axis is positive
    flip = np.sign(comps[np.arange(len(comps)),
                         np.argmax(np.abs(comps), axis=1)])
    comps = comps * flip[:, None]
    ev = np.maximum(evals[order], 0.0)
    total = float(np.trace(cov))
    return PCAModel(mean=mean, components=comps, explained_variance=ev,
                    explained_variance_ratio=(ev / total if total > 0
                                              else np.zeros_like(ev)),
                    n_samples=int(n))


def pca_covariance(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The fit's distributed stage as a value-oracle surface: the sample
    covariance matrix as ``(i, j, cov)`` rows, computed with the same
    one-pass gram sketch :func:`pca_fit` reduces over — but with the d²
    gram cells kept IN the DataFrame (only the d+1 sum/count scalars come
    to the driver, as literals for the centering term). Everything past
    this stage in ``pca_fit`` is a driver-side ``eigh`` on these numbers,
    so a value match here pins the whole distributed portion of PCA.
    """
    base = df.select(F.col(vec_col).alias("_v")).filter(F.col("_v").isNotNull())
    head = base.select(F.size("_v").alias("d")).first()
    if head is None:
        raise ValueError("no vectors to compute covariance on")
    d = int(head["d"])
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.element_at("_v", i + 1).cast("double")).alias(f"s{i}")
          for i in range(d)]).first()
    n = int(stats["n"])
    if n < 2:
        raise ValueError(f"need at least 2 vectors, got {n}")
    s = [float(stats[f"s{i}"]) for i in range(d)]

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            k = X.shape[1]
            i, j = np.meshgrid(np.arange(k), np.arange(k), indexing="ij")
            yield pd.DataFrame({"i": i.ravel(), "j": j.ravel(),
                                "v": (X.T @ X).ravel()})

    gram = (base.mapInPandas(partials, "i int, j int, v double")
            .groupBy("i", "j").agg(F.sum("v").alias("_g")))
    s_arr = F.array(*[F.lit(x) for x in s])
    si = F.element_at(s_arr, F.col("i") + 1)
    sj = F.element_at(s_arr, F.col("j") + 1)
    cov = (F.col("_g") - si * sj / F.lit(float(n))) / F.lit(float(n - 1))
    return gram.select("i", "j", cov.alias("cov"))


def pca_transform(df: DataFrame, model: PCAModel, vec_col: str = "embedding",
                  out_col: str = "pca") -> DataFrame:
    """Project the embedding column onto the fitted axes (map-only)."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((model.mean, model.components))

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mean, comps = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            vals = pdf[vec_col]
            ok = vals.notna().to_numpy()
            proj = [None] * len(pdf)
            if ok.any():
                X = np.stack(vals.iloc[np.flatnonzero(ok)].to_numpy()
                             ).astype(np.float64)
                Y = (X - mean) @ comps.T
                for pos, row in zip(np.flatnonzero(ok), Y.astype(np.float32)):
                    proj[pos] = row
            out[out_col] = pd.Series(proj, index=pdf.index, dtype=object)
            yield out

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{out_col}` array<float>"])
    return df.mapInPandas(project, schema)
