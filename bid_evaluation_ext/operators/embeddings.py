"""Embedding-column maintenance: L2 normalization and int8 quantization —
map-only array transforms, no shuffle, no Python.

Beyond-reference operators (BASELINE.json north star: storage/IO economics
of an embedding corpus at 100 TB). Symmetric per-vector int8 quantization
cuts an `array<float>` column 4× (8× vs double) — at petabyte embedding
scale that is the difference between one and four racks of NVMe — while
keeping a per-vector ``scale`` so any consumer can dequantize. All
arithmetic is engine-portable (``round`` half-away-from-zero on identical
doubles), so exact DuckDB oracles exist for both operators.

Scale shape: every function here is a narrow projection — linear in rows,
zero shuffle, fully inside whole-stage codegen except the array lambda
bodies (element-count work, 64 ops/row — negligible next to the scan).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .dedup import _norm


def l2_normalize(df: DataFrame, vec_col: str = "embedding",
                 out_col: str = None) -> DataFrame:
    """Scale each vector to unit L2 norm (zero vectors pass through
    unchanged rather than dividing by zero). Adds/overwrites ``out_col``
    (default: in place) plus a ``norm`` column with the original norm."""
    out_col = out_col or vec_col
    # Two projections, NOT one: a scalar captured inside a transform()
    # lambda is re-evaluated per element, making the O(d) norm O(d^2)
    # per vector (measured 127x at d=512). Materializing it as a column
    # first makes the lambda body a plain attribute reference; the >=2
    # static references below keep CollapseProject from re-inlining the
    # non-cheap aggregate.
    stage = df.select("*", _norm(F.col(vec_col)).alias("_l2_nrm"))
    nrm = F.col("_l2_nrm")
    scaled = F.when(nrm == 0.0, F.col(vec_col)).otherwise(
        F.transform(F.col(vec_col), lambda x: x.cast("double") / nrm))
    cols = [scaled.alias(out_col) if c == out_col else F.col(c)
            for c in df.columns]
    if out_col not in df.columns:
        cols.append(scaled.alias(out_col))
    return stage.select(*cols, nrm.alias("norm"))


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  q_col: str = "q_embedding",
                  scale_col: str = "q_scale") -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` ∈ [-127, 127]. All-zero vectors get
    scale 1.0 (quantize to zeros, dequantize exactly). Keeps the input
    column; adds ``(q_col: array<int>, scale_col: double)``."""
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    # materialize the scale before the quantizing lambda captures it —
    # see l2_normalize: a captured O(d) scalar is re-evaluated per element
    stage = df.select("*", F.when(maxabs == 0.0, F.lit(1.0))
                            .otherwise(maxabs / F.lit(127.0))
                            .alias(scale_col))
    scale = F.col(scale_col)
    q = F.transform(v, lambda x: F.round(x.cast("double") / scale)
                    .cast("int"))
    return stage.select(*df.columns, q.alias(q_col), scale)


def dequantize_int8(df: DataFrame, q_col: str = "q_embedding",
                    scale_col: str = "q_scale",
                    out_col: str = "dq_embedding") -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``x̂_i = q_i · scale`` as
    ``array<double>``."""
    s = F.col(scale_col)
    dq = F.transform(F.col(q_col), lambda q: q.cast("double") * s)
    return df.select("*", dq.alias(out_col))


def quantization_error(df: DataFrame, vec_col: str = "embedding",
                       dq_col: str = "dq_embedding") -> DataFrame:
    """Per-vector reconstruction diagnostics: ``max_abs_err`` (∞-norm of
    the residual) and ``l2_err`` (2-norm). The error bound for symmetric
    int8 is ``scale/2`` per element — assert it in tests, monitor it in
    pipelines."""
    v, d = F.col(vec_col), F.col(dq_col)
    resid = F.zip_with(v, d, lambda a, b: F.abs(a.cast("double") - b))
    return df.select(
        "*",
        F.array_max(resid).alias("max_abs_err"),
        _norm(resid).alias("l2_err"),
    )


def matryoshka_truncate(df: DataFrame, dim: int,
                        vec_col: str = "embedding",
                        out_col: str = None,
                        renormalize: bool = True) -> DataFrame:
    """Truncate Matryoshka-trained embeddings to their leading ``dim``
    dimensions and (by default) re-normalize to unit L2 (Kusupati et al.,
    NeurIPS 2022, public arXiv:2205.13147) — the storage/recall dial of an
    MRL embedding estate: 64→16 dims is a 4× scan shrink on every ANN
    query, applied as a pure projection at read time. Vectors shorter
    than ``dim`` become null (truncation is undefined, surfacing schema
    drift instead of mixed-length silently entering an index); zero
    truncated vectors stay zero rather than dividing by zero. Map-only,
    no Python, no shuffle."""
    if dim < 1:
        raise ValueError(f"dim must be positive, got {dim}")
    out_col = out_col or vec_col
    head = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
    stage = df
    if renormalize:
        # materialize the truncated-head norm before the rescaling lambda
        # captures it (see l2_normalize: captured scalar -> O(d^2))
        stage = df.select("*", F.sqrt(F.aggregate(
            head, F.lit(0.0), lambda a, x: a + x * x)).alias("_mtr_nrm"))
        nrm = F.col("_mtr_nrm")
        head = F.when(nrm == 0.0, head).otherwise(
            F.transform(head, lambda x: x / nrm))
    res = F.when(F.size(F.col(vec_col)) >= dim, head)
    cols = [res.alias(out_col) if c == out_col else F.col(c)
            for c in df.columns]
    if out_col not in df.columns:
        cols.append(res.alias(out_col))
    return stage.select(*cols)


def jl_signs(in_dim: int, out_dim: int, seed: str = "jl") -> list:
    """Deterministic Rademacher (±1) JL sign matrix, ``in_dim × out_dim``:
    ``S[j][t] = +1`` iff the first hex digit of ``md5(f"{seed}:{j}:{t}")``
    is even. Portable: DuckDB derives the identical matrix from the same
    md5 string, so the projection is exactly SQL-replayable."""
    import hashlib
    return [[1.0 if int(hashlib.md5(
        f"{seed}:{j}:{t}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for t in range(out_dim)] for j in range(in_dim)]


def jl_project(df: DataFrame, in_dim: int, out_dim: int,
               vec_col: str = "embedding", out_col: str = "projected",
               seed: str = "jl") -> DataFrame:
    """Johnson–Lindenstrauss random projection ``in_dim → out_dim``:
    ``y[t] = (Σ_j x[j]·S[j][t]) / √out_dim`` with the deterministic
    Rademacher signs of :func:`jl_signs` (Achlioptas 2003: ±1 entries
    satisfy the JL lemma — pairwise distances are preserved within
    ``ε`` w.h.p. for ``out_dim = O(log n / ε²)``).

    Map-only Arrow kernel, no shuffle: the bounded sign matrix is
    broadcast and each batch accumulates over ``j`` IN INDEX ORDER
    (``acc += X[:,j] ⊗ S[j,:]``) — fold-order-exact, bit-identical to
    the oracle's ``list_sum(list_transform(...))`` ascending-``j`` fold
    (the :mod:`.pq` lesson: vectorize over rows, keep the accumulation
    loop ordered). Null / too-short vectors project to null. At 100 TB
    this is the cheap front door to ANN and clustering: 4× fewer
    dimensions before the shuffle-heavy stages.
    """
    if in_dim < 1 or out_dim < 1:
        raise ValueError("in_dim and out_dim must be positive")
    S = np.asarray(jl_signs(in_dim, out_dim, seed), dtype=np.float64)
    root_k = float(np.sqrt(float(out_dim)))
    bc = df.sparkSession.sparkContext.broadcast(S)

    @F.pandas_udf("array<double>")
    def _proj(vs: pd.Series) -> pd.Series:
        M = bc.value
        d, k = M.shape
        vals = vs.tolist()
        out = [None] * len(vals)
        ok = [i for i, v in enumerate(vals)
              if v is not None and len(v) >= d]
        if ok:
            X = np.asarray([vals[i][:d] for i in ok], dtype=np.float64)
            acc = np.zeros((len(ok), k), dtype=np.float64)
            for j in range(d):  # ordered fold over j — oracle-exact
                acc += X[:, j:j + 1] * M[j:j + 1, :]
            # divide (not multiply by a reciprocal): the SQL twin writes
            # list_sum(...)/sqrt(k) and x/s != x*(1/s) in IEEE doubles
            acc /= root_k
            for row, i in zip(acc, ok):
                out[i] = [float(x) for x in row]
        return pd.Series(out)

    return df.withColumn(out_col, _proj(F.col(vec_col)))
