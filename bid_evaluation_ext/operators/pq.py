"""Product quantization: codebook encoding + asymmetric-distance top-k.

The compressed-vector ANN path (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public): split each d-dim vector
into ``m`` subvectors, quantize each against a ``ksub``-entry codebook,
and search by ADC — per query, precompute the ``m × ksub`` lookup table
of subspace distances, then score a compressed code by summing ``m``
table entries. At 100 TB this is the difference between scanning raw
float vectors (4·d bytes/row) and scanning ``m``-byte codes with the
query LUT broadcast: the corpus-side scan shrinks ~d·4/m ×.

Execution shape:

- **Encode / coarse-assign / LUT are map-only Arrow kernels** with
  FOLD-ORDER-PRESERVING arithmetic: each squared distance accumulates
  ``((0 + d₁²) + d₂²) + …`` in element order (a numpy loop over the
  dimension index), which is bit-identical to the SQL oracle's ordered
  list fold — so argmins, ADC sums, and every emitted double replay
  exactly in DuckDB. Why not Column expressions: Spark evaluates
  higher-order-function lambdas interpreted (measured 14.5 s for the
  sf0.1 IVF-PQ bench row), and unrolling 2k-term distance trees breaks
  Janino codegen (66 s with compile fallback); the Arrow kernel runs the
  same arithmetic vectorized (~100× on the kernel, same precedent as
  `similarity.assign_clusters`).
- **Search is equi-joins + one sum-agg**: codes join the broadcast
  per-query LUT on ``(subspace, code)``; the rank window partitions by
  query and orders on the 1e-6-quantized distance (float-sum association
  differs across engines/partitions) with id tie-break — deterministic.

Codebooks are pinned numpy/py lists ``(m, ksub, dsub)`` — training them
is :func:`similarity.kmeans_centroids`' job, run per subspace.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _shape(codebooks: Sequence) -> tuple[int, int, int]:
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    for cb in codebooks:
        if len(cb) != ksub or any(len(c) != dsub for c in cb):
            raise ValueError("ragged codebook: need uniform (m, ksub, dsub)")
    return m, ksub, dsub


def _ordered_sqdists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n × k) squared L2 distances with ORDERED accumulation: the t-loop
    adds ``(x_t − c_t)²`` in index order per (row, centroid) cell, making
    every cell bit-identical to the SQL oracle's left-fold
    ``((0 + d₁²) + d₂²) + …`` — vectorized over rows and centroids, exact
    over the fold order."""
    n, k = X.shape[0], C.shape[0]
    acc = np.zeros((n, k))
    for t in range(C.shape[1]):
        diff = X[:, t:t + 1] - C[None, :, t]
        acc += diff * diff
    return acc


def pq_encode(df: DataFrame, codebooks: Sequence,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """PQ-encode vectors: returns one row per ``(id_col, subspace, code)``
    with ``code`` the argmin codebook entry for that subspace (first
    minimum on ties — numpy argmin and the oracle's min-rank agree).
    Vectors shorter than ``m·dsub`` (or null) encode as ``code = -1`` in
    every subspace — corrupt rows stay visible instead of vanishing.
    Map-only Arrow kernel (fold-order-exact distances) + posexplode."""
    m, ksub, dsub = _shape(codebooks)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(codebooks, dtype=np.float64))

    @F.pandas_udf("array<int>")
    def _codes(vs: pd.Series) -> pd.Series:
        C = bc.value
        mm, _, dd = C.shape
        vals = vs.tolist()
        out = [[-1] * mm] * len(vals)
        ok = [i for i, v in enumerate(vals)
              if v is not None and len(v) >= mm * dd]
        if ok:
            X = np.asarray([vals[i][:mm * dd] for i in ok],
                           dtype=np.float64)
            codes = np.empty((len(ok), mm), dtype=np.int64)
            for j in range(mm):
                D = _ordered_sqdists(X[:, j * dd:(j + 1) * dd], C[j])
                codes[:, j] = np.argmin(D, axis=1)
            for row, i in zip(codes, ok):
                out[i] = [int(c) for c in row]
        return pd.Series(out)

    return (df.select(F.col(id_col),
                      F.posexplode(_codes(F.col(vec_col)))
                      .alias("subspace", "code"))
            .select(id_col, F.col("subspace").cast("int").alias("subspace"),
                    F.col("code").cast("int").alias("code")))


def _lut_frame(queries: DataFrame, codebooks: Sequence, vec_col: str,
               query_id: str) -> DataFrame:
    """Per-query ADC lookup table ``(query_id, subspace, code, d)`` —
    one Arrow kernel emits the flat m·ksub distance array per query
    (fold-order-exact), posexplode splits it. Null/short query vectors
    yield no LUT rows (the query returns no results, by contract)."""
    m, ksub, dsub = _shape(codebooks)
    sc = queries.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(codebooks, dtype=np.float64))

    @F.pandas_udf("array<double>")
    def _lut(vs: pd.Series) -> pd.Series:
        C = bc.value
        mm, kk, dd = C.shape
        vals = vs.tolist()
        out = [None] * len(vals)
        ok = [i for i, v in enumerate(vals)
              if v is not None and len(v) >= mm * dd]
        if ok:
            X = np.asarray([vals[i][:mm * dd] for i in ok],
                           dtype=np.float64)
            flat = np.empty((len(ok), mm * kk))
            for j in range(mm):
                flat[:, j * kk:(j + 1) * kk] = _ordered_sqdists(
                    X[:, j * dd:(j + 1) * dd], C[j])
            for row, i in zip(flat, ok):
                out[i] = [float(x) for x in row]
        return pd.Series(out)

    return (queries.select(F.col(query_id).alias("query_id"),
                           F.posexplode(_lut(F.col(vec_col)))
                           .alias("_pos", "d"))
            .select("query_id",
                    F.floor(F.col("_pos") / ksub).cast("int")
                    .alias("subspace"),
                    (F.col("_pos") % ksub).cast("int").alias("code"),
                    "d"))


def pq_adc_topk(queries: DataFrame, codes: DataFrame, codebooks: Sequence,
                k: int = 10, vec_col: str = "embedding",
                query_id: str = "vec_id", code_id: str = "vec_id",
                exclude_self: bool = True) -> DataFrame:
    """Asymmetric-distance top-k: exact query subvectors against the
    compressed corpus codes. Returns ``(query_id, neighbor_id, adc_dist,
    rank)`` with ``rank ≤ k`` per query.

    The per-query LUT (``m × ksub`` squared subspace distances) comes
    from one Arrow kernel on the (small) query side — Catalyst broadcasts
    it to the codes scan; scoring is ONE equi-join on ``(subspace,
    code)`` + one sum-agg; the rank window partitions by query. Codes
    with ``-1`` (corrupt source vectors) never match the LUT and drop out
    naturally."""
    m, ksub, dsub = _shape(codebooks)
    if k < 0:
        raise ValueError(f"k must be non-negative, got {k}")
    lut = _lut_frame(queries, codebooks, vec_col, query_id)
    cand = (codes.withColumnRenamed(code_id, "neighbor_id")
            .join(lut, ["subspace", "code"])
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum("d").alias("adc_dist"),
                 F.count(F.lit(1)).alias("_m")))
    # codes that matched fewer than m subspaces (corrupt → -1) drop out
    cand = cand.filter(F.col("_m") == m).drop("_m")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    q6 = F.round(F.col("adc_dist") * F.lit(1e6)) / F.lit(1e6)
    w = Window.partitionBy("query_id").orderBy(q6.asc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def formula_codebook(m: int = 8, ksub: int = 16, dsub: int = 8) -> list:
    """Deterministic closed-form codebook for tests/oracles:
    ``C[j][c][t] = ((c·7 + t·3 + j·5) mod 13 − 6) / 4`` — every value an
    exact double, replayable as pure integer arithmetic in SQL."""
    return [[[((c * 7 + t * 3 + j * 5) % 13 - 6) / 4.0
              for t in range(dsub)] for c in range(ksub)] for j in range(m)]


def coarse_assign(df: DataFrame, centroids: Sequence,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  nprobe: int = 1) -> DataFrame:
    """Nearest coarse-centroid list id(s) per vector — the IVF routing
    step, as one Arrow kernel (fold-order-exact distances; stable argsort
    gives the (distance, list) tie-break the oracle's rank replays). With
    ``nprobe > 1`` each row explodes to its nprobe nearest lists.
    Returns ``(id_col, list_id)``; short/null vectors get list −1."""
    n_lists = len(centroids)
    dim = len(centroids[0])
    p = min(max(1, int(nprobe)), n_lists)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf("array<int>")
    def _probes(vs: pd.Series) -> pd.Series:
        C = bc.value
        vals = vs.tolist()
        out = [[-1]] * len(vals)
        ok = [i for i, v in enumerate(vals)
              if v is not None and len(v) >= dim]
        if ok:
            X = np.asarray([vals[i][:dim] for i in ok], dtype=np.float64)
            D = _ordered_sqdists(X, C)
            if p == 1:
                near = np.argmin(D, axis=1)[:, None]
            else:
                near = np.argsort(D, axis=1, kind="stable")[:, :p]
            for row, i in zip(near, ok):
                out[i] = [int(c) for c in row]
        return pd.Series(out)

    return (df.select(F.col(id_col),
                      F.explode(_probes(F.col(vec_col))).alias("list_id"))
            .select(id_col, F.col("list_id").cast("int").alias("list_id")))


def ivfpq_topk(queries: DataFrame, corpus: DataFrame, coarse: Sequence,
               codebooks: Sequence, k: int = 10, nprobe: int = 4,
               vec_col: str = "embedding", query_id: str = "vec_id",
               corpus_id: str = "vec_id",
               exclude_self: bool = True) -> DataFrame:
    """IVF-PQ approximate top-k — the canonical 100-TB ANN composition:
    the corpus lives as (coarse list id, m-byte PQ code); a query probes
    its ``nprobe`` nearest lists and ADC-scores only those candidates.
    Per-query work scales with ``nprobe/n_lists`` of the corpus × m bytes
    per candidate — neither raw vectors nor unprobed lists are touched.

    Assignment/codes/LUT are map-only Arrow kernels (computable once and
    persisted as a real index — see `streaming/ivf.py` for the
    incremental maintenance pattern); probe→list and ADC are equi-joins +
    one sum-agg; ranking quantizes to 1e-6 with id tie-break. Returns
    ``(query_id, neighbor_id, adc_dist, rank ≤ k)``. Recall < 1 by
    construction (unprobed lists); codebooks/centroids are pinned inputs
    — train with `similarity.kmeans_centroids`."""
    m, ksub, dsub = _shape(codebooks)
    if k < 0:
        raise ValueError(f"k must be non-negative, got {k}")
    assign = (coarse_assign(corpus, coarse, vec_col, corpus_id, nprobe=1)
              .withColumnRenamed(corpus_id, "neighbor_id"))
    codes = (pq_encode(corpus, codebooks, vec_col, corpus_id)
             .withColumnRenamed(corpus_id, "neighbor_id"))
    probes = (coarse_assign(queries, coarse, vec_col, query_id,
                            nprobe=nprobe)
              .withColumnRenamed(query_id, "query_id"))

    cand = probes.join(assign, ["list_id"]).select("query_id", "neighbor_id")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))

    lut = _lut_frame(queries, codebooks, vec_col, query_id)
    scored = (cand.join(codes, ["neighbor_id"])
              .join(lut, ["query_id", "subspace", "code"])
              .groupBy("query_id", "neighbor_id")
              .agg(F.sum("d").alias("adc_dist"),
                   F.count(F.lit(1)).alias("_m"))
              .filter(F.col("_m") == m).drop("_m"))
    q6 = F.round(F.col("adc_dist") * F.lit(1e6)) / F.lit(1e6)
    w = Window.partitionBy("query_id").orderBy(q6.asc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def formula_coarse(n_lists: int = 16, dim: int = 64) -> list:
    """Deterministic closed-form coarse centroids for tests/oracles:
    ``((c·11 + t·7) mod 19 − 9) / 3`` — exact doubles, SQL-replayable."""
    return [[((c * 11 + t * 7) % 19 - 9) / 3.0 for t in range(dim)]
            for c in range(n_lists)]
