"""Similarity search over embedding columns: brute-force cosine top-k and
LSH/IVF-style bucketed approximate search.

Beyond-reference operators (BASELINE.json north star). Scale design:

- **Brute force** (`cosine_topk`) broadcasts the (small) query set, computes
  similarities map-side over the corpus scan, then takes per-query top-k.
  With ``two_phase=True`` each corpus partition first reduces to its local
  top-k per query inside an Arrow-batched ``mapInPandas`` (numpy matrix
  multiply), so the shuffle carries only ``num_partitions × Q × k`` rows
  instead of ``Q × N`` — the correct brute-force shape for a 1000-executor
  scan of a 100 TB corpus.
- **Bucketed ANN** (`lsh_topk`) assigns corpus vectors to random-hyperplane
  buckets (cosine LSH); queries probe only their own bucket (plus optional
  multi-probe neighbors), turning top-k into a per-bucket join — the IVF
  pattern with hash-partitioned inverted lists.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _hyperplane_bucket, cosine

from bid_evaluation_ext.dispatch import local_cap


_TOPK_LOCAL_MAX_QUERIES = 10_000


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                query_id: str = "vec_id", corpus_id: str = "vec_id",
                vec_col: str = "embedding", exclude_self: bool = True,
                two_phase: bool = False, engine: str = "auto") -> DataFrame:
    """Exact top-k cosine neighbors in the corpus for every query vector.

    Returns ``(query_id, neighbor_id, cosine, rnk)`` with rnk 1..k ordered by
    (similarity desc, neighbor id asc) — deterministic under ties.

    Engines (identical output — parity-tested on messy corpora):

    - ``kernel`` (default via ``auto``, r12 opt): the bounded query set
      is collected (the join engine broadcast-collects the same rows)
      and similarities run in ONE ``mapInPandas`` pass over the corpus
      scan — per-dim element-order float64 folds that bit-match the
      ``aggregate(zip_with(...))`` Column expression (interpreted HOFs
      are ~the whole cost of the join plan), with a per-batch frontier
      (rows above the batch's k-th value, boundary ties included, plus
      the k lowest-id null-cosine rows) so the final window sees
      O(partitions × Q × k) rows instead of Q × N.
    - ``join``: broadcast crossJoin + Column cosine + full window —
      runs unchanged above ``SPARK_GRAFT_TOPK_LOCAL_MAX_QUERIES``
      (default 10k) query rows, so the dispatch is data-size-adaptive.
    """
    if two_phase:
        return _cosine_topk_two_phase(queries, corpus, k, query_id, corpus_id,
                                      vec_col, exclude_self)
    if engine == "auto":
        import os
        cap = local_cap("SPARK_GRAFT_TOPK_LOCAL_MAX_QUERIES", _TOPK_LOCAL_MAX_QUERIES)
        qrows = queries.select(F.col(query_id).alias("query_id"),
                               F.col(vec_col).alias("_qv")) \
            .limit(cap + 1).collect()
        if len(qrows) <= cap:
            return _cosine_topk_kernel(
                qrows, corpus, k, corpus_id, vec_col, exclude_self,
                queries.schema[query_id].dataType)
        engine = "join"
    elif engine == "kernel":
        qrows = queries.select(F.col(query_id).alias("query_id"),
                               F.col(vec_col).alias("_qv")).collect()
        return _cosine_topk_kernel(
            qrows, corpus, k, corpus_id, vec_col, exclude_self,
            queries.schema[query_id].dataType)
    if engine != "join":
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")

    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"))
    # broadcast the query side: the corpus scan stays partition-local and the
    # Q×N similarity rows are produced map-side with no shuffle before top-k
    sims = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", cosine(F.col("_qv"), F.col("_cv"))
    )
    if exclude_self:
        sims = sims.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _parse_vec(v) -> Optional[np.ndarray]:
    """Float64 view of one vector cell, or None when the Column cosine
    would be null for every pairing (null / ragged / null-element)."""
    if v is None:
        return None
    try:
        arr = np.asarray(v, dtype=np.float64)
    except (TypeError, ValueError):
        return None
    if arr.ndim != 1:
        return None
    # a null ELEMENT nulls the whole zip_with product chain
    if any(x is None for x in v):
        return None
    return arr


def _fold_norm(M: np.ndarray) -> np.ndarray:
    """sqrt of the left-fold sum of squares — the _norm Column order."""
    acc = np.zeros(len(M))
    for i in range(M.shape[1]):
        acc += M[:, i] * M[:, i]
    return np.sqrt(acc)


def _cosine_topk_kernel(qrows: list, corpus: DataFrame, k: int,
                        corpus_id: str, vec_col: str, exclude_self: bool,
                        qid_type) -> DataFrame:
    """Map-side exact top-k: per corpus batch each query keeps rows at
    or above its k-th best cosine (boundary ties included — the global
    window applies the id tie-break) plus the k lowest-id null-cosine
    rows (they matter when a query has < k real neighbors); the union
    of batch frontiers provably contains the global top-k. Cosines
    replay the Column arithmetic: per-dim element-order float64 folds,
    ``dot / (norm_q · norm_c)`` — null when dims mismatch, a
    vector/element is null, or the norm product is zero (Spark's
    ``Divide`` nulls division by zero even for doubles). NaN/Inf INPUT
    elements are outside the contract (same note as the hard-negatives
    kernel: such cosines become SQL nulls on the Arrow hop, where the
    join engine would carry a NaN value).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType([
        StructField("query_id", qid_type),
        StructField("neighbor_id", corpus.schema[corpus_id].dataType),
        StructField("cosine", DoubleType()),
    ])
    kk = int(k)

    # driver-side query prep, grouped by dimension (one matrix per dim)
    by_dim: dict = {}
    bad_q: list = []   # null/ragged query vectors: null cosine everywhere
    for r in qrows:
        qid, qv = r["query_id"], r["_qv"]
        if exclude_self and qid is None:
            # query_id != neighbor_id is null for a null qid — the join
            # engine's filter drops every such row
            continue
        arr = _parse_vec(qv)
        if arr is None:
            bad_q.append(qid)
        else:
            by_dim.setdefault(len(arr), []).append((qid, arr))
    groups = []
    for d_, items in by_dim.items():
        Q = np.stack([it[1] for it in items])
        groups.append((d_, [it[0] for it in items], Q, _fold_norm(Q)))

    def _mine(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            nb = len(pdf)
            ids = pdf["_nid"].to_numpy()
            raw = pdf["_cv"].to_numpy()
            id_null = pdf["_nid"].isna().to_numpy()
            arrs = [_parse_vec(v) for v in raw]
            dims = np.array([-1 if a is None else len(a) for a in arrs],
                            dtype=np.int64)
            mats = {}
            for d_ in np.unique(dims[dims >= 0]):
                idx = np.nonzero(dims == d_)[0]
                mats[int(d_)] = (idx, np.stack([arrs[i] for i in idx]))
            cnorm = {d_: _fold_norm(M) for d_, (idx, M) in mats.items()}
            rows = {"query_id": [], "neighbor_id": [], "cosine": []}

            def emit(qid, nid_arr, cos_list):
                rows["query_id"].extend([qid] * len(nid_arr))
                rows["neighbor_id"].extend(nid_arr.tolist())
                rows["cosine"].extend(cos_list)

            def self_mask(qid):
                m = np.ones(nb, dtype=bool)
                if exclude_self:
                    m &= ~id_null
                    m &= ids != qid
                return m

            def emit_nulls(qid, mask):
                sel = np.nonzero(mask)[0]
                if len(sel) == 0:
                    return
                # Spark asc puts null ids first; keep all null-id rows
                # (few by contract) + the k smallest non-null ids — a
                # superset of what the final window can rank
                nulls = sel[id_null[sel]]
                nn = sel[~id_null[sel]]
                order = np.argsort(ids[nn], kind="stable")[:kk]
                sel = np.concatenate([nulls, nn[order]])
                emit(qid, ids[sel], [None] * len(sel))

            for d_, qids, Qm, qn in groups:
                same = mats.get(d_)
                other = dims != d_   # other dims + unparseable: null
                if same is None:
                    for qid in qids:
                        emit_nulls(qid, other & self_mask(qid))
                    continue
                idx, M = same
                # element-order fold across dims, vectorized over rows
                acc = np.zeros((len(qids), len(idx)))
                for i in range(d_):
                    acc += Qm[:, i][:, None] * M[:, i][None, :]
                dv = qn[:, None] * cnorm[d_][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / dv
                sub_ids = ids[idx]
                for qi, qid in enumerate(qids):
                    sm = self_mask(qid)
                    keep = sm[idx]
                    # Spark Divide nulls /0; any residual NaN is also
                    # outside the real-value order
                    isnull = (dv[qi] == 0) | np.isnan(cos[qi])
                    rsel = np.nonzero(keep & ~isnull)[0]
                    cq = cos[qi][rsel]
                    if len(rsel) > kk:
                        kth = np.partition(-cq, kk - 1)[kk - 1]
                        b = -cq <= kth   # boundary ties included
                        rsel, cq = rsel[b], cq[b]
                    emit(qid, sub_ids[rsel], cq.tolist())
                    nullm = other.copy()
                    nullm[idx[keep & isnull]] = True
                    emit_nulls(qid, nullm & sm)
            for qid in bad_q:
                # a bad query vector nulls every pairing
                emit_nulls(qid, self_mask(qid))
            if rows["query_id"]:
                yield pd.DataFrame({
                    "query_id": rows["query_id"],
                    "neighbor_id": rows["neighbor_id"],
                    "cosine": pd.Series(rows["cosine"], dtype="object"),
                })

    frontier = (corpus.select(F.col(corpus_id).alias("_nid"),
                              F.col(vec_col).alias("_cv"))
                .mapInPandas(_mine, out_schema))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (frontier
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= kk)
            .select("query_id", "neighbor_id", "cosine", "rnk"))


def _cosine_topk_two_phase(queries: DataFrame, corpus: DataFrame, k: int,
                           query_id: str, corpus_id: str, vec_col: str,
                           exclude_self: bool) -> DataFrame:
    """Partition-local numpy top-k, then global top-k of the survivors."""
    qrows = queries.select(F.col(query_id).alias("qid"),
                           F.col(vec_col).alias("qv")).collect()
    if not qrows:
        schema = "query_id long, neighbor_id long, cosine double, rnk int"
        return queries.sparkSession.createDataFrame([], schema)
    qids = np.array([r["qid"] for r in qrows])
    qmat = np.array([r["qv"] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bq = queries.sparkSession.sparkContext.broadcast((qids, qmat, qnorm))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, qn = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(cmat, axis=1)
            sims = (mat @ cmat.T) / (qn[:, None] * cn[None, :])
            nid = pdf["_cid"].to_numpy()
            topn = min(k + (1 if exclude_self else 0), sims.shape[1])
            part = np.argpartition(-sims, topn - 1, axis=1)[:, :topn]
            out = {
                "query_id": np.repeat(ids, topn),
                "neighbor_id": nid[part].ravel(),
                "cosine": np.take_along_axis(sims, part, axis=1).ravel(),
            }
            yield pd.DataFrame(out)

    local = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_v")
    ).mapInPandas(local_topk, "query_id long, neighbor_id long, cosine double")
    if exclude_self:
        local = local.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
             query_id: str = "vec_id", corpus_id: str = "vec_id",
             vec_col: str = "embedding", num_planes: int = 6,
             num_tables: int = 1, exclude_self: bool = True,
             seed: int = 42) -> DataFrame:
    """Approximate top-k: probe the query's hyperplane bucket in each of
    ``num_tables`` independent hash tables (the standard LSH
    OR-amplification: a neighbor is a candidate if it collides in ANY
    table, lifting recall from p^planes to 1 − (1 − p^planes)^tables at
    ×tables candidate cost).

    The scale shape stays ONE equi-join: both sides explode to
    (table_id, bucket) keys — 2^num_planes × num_tables inverted lists —
    and candidates dedup on (query, neighbor) BEFORE the exact-cosine
    verify, so a pair colliding in several tables is verified once.
    Recall < 1 by construction; the seeded floor is pinned in
    tests/test_embeddings.py against :func:`cosine_topk`.
    """
    if num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    buckets = F.array(*[
        F.struct(F.lit(t).alias("_tbl"),
                 _hyperplane_bucket(F.col(vec_col), num_planes,
                                    seed + 1_000_003 * t).alias("_bkt"))
        for t in range(num_tables)])
    q = (queries.select(F.col(query_id).alias("query_id"),
                        F.col(vec_col).alias("_qv"),
                        F.explode(buckets).alias("_p"))
         .select("query_id", "_qv", "_p._tbl", "_p._bkt"))
    c = (corpus.select(F.col(corpus_id).alias("neighbor_id"),
                       F.col(vec_col).alias("_cv"),
                       F.explode(buckets).alias("_p"))
         .select("neighbor_id", "_cv", "_p._tbl", "_p._bkt"))
    cand = q.join(c, on=["_tbl", "_bkt"]).select(
        "query_id", "neighbor_id", "_qv", "_cv")
    if num_tables > 1:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    sims = cand.withColumn("cosine", cosine(F.col("_qv"), F.col("_cv")))
    if exclude_self:
        sims = sims.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF: trained-centroid inverted lists (k-means + multiprobe search)
# ---------------------------------------------------------------------------

def kmeans_centroids(corpus: DataFrame, vec_col: str = "embedding",
                     k: int = 16, max_iter: int = 10, tol: float = 1e-4,
                     seed: int = 42,
                     init: Optional[np.ndarray] = None) -> np.ndarray:
    """Lloyd's k-means over an embedding column → (k, dim) centroid matrix.

    Spark-shaped iteration: the (k × dim) centroid matrix broadcasts each
    round (tiny); assignment is a numpy argmin inside ``mapInPandas`` over
    the corpus scan (map-only); the update collects per-(cluster, dim) means
    via ``posexplode`` + groupBy — k·dim result rows to the driver per round,
    never the vectors. Deterministic init: the k vectors first in seeded
    hash order of their contents — stable across partitionings and input
    order. Stops when every centroid moves < ``tol`` (L2) or after
    ``max_iter`` rounds.

    ``init`` (a (k, dim) matrix) overrides the hash init — the warm-start /
    pinned-init surface. Pinned init also makes the training loop itself
    value-oracle-able: each Lloyd round is an argmin assignment + a
    per-(cluster, dim) mean, both plain SQL under fixed starting centroids
    (the ``ml_kmeans_lloyd_embeddings`` oracle unrolls two rounds exactly
    like ``classify_logreg_embeddings`` unrolls gradient descent).
    """
    sc = corpus.sparkSession.sparkContext
    if init is not None:
        cents = np.asarray(init, dtype=np.float64)
        k = len(cents)
    else:
        # deterministic init: k vectors in xxhash order of their serialized
        # form
        init_rows = (
            corpus.select(F.col(vec_col).alias("_v"))
            .withColumn("_h", F.xxhash64(F.concat_ws(",", F.col("_v").cast("array<string>")), F.lit(seed)))
            .orderBy("_h").limit(k).collect()
        )
        cents = np.array([r["_v"] for r in init_rows], dtype=np.float64)
    if len(cents) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")

    vecs = corpus.select(F.col(vec_col).alias("_v"))
    for _ in range(max_iter):
        bc = sc.broadcast(cents)

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C = bc.value
            c2 = (C ** 2).sum(axis=1)
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                # argmin ||x-c||^2 = argmin c.c - 2 x.c
                a = np.argmin(c2[None, :] - 2.0 * (X @ C.T), axis=1)
                yield pd.DataFrame({"_c": a.astype("int32"), "_v": pdf["_v"]})

        assigned = vecs.mapInPandas(assign, "_c int, _v array<float>")
        means = (
            assigned.select("_c", F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_c", "_d").agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new_cents = cents.copy()
        by_c: dict = {}
        for r in means:
            by_c.setdefault(r["_c"], {})[r["_d"]] = r["_m"]
        for c, dims in by_c.items():
            for d, m in dims.items():
                new_cents[c, d] = m
        shift = float(np.sqrt(((new_cents - cents) ** 2).sum(axis=1)).max())
        cents = new_cents
        bc.destroy()
        if shift < tol:
            break
    return cents


def assign_clusters(df: DataFrame, centroids: np.ndarray,
                    vec_col: str = "embedding",
                    out_col: str = "cluster", nprobe: int = 1) -> DataFrame:
    """Nearest-centroid id(s) per row as a new int column — map-only, with
    the (k × dim) centroid matrix broadcast and one argmin/argpartition
    matmul per Arrow batch. The assignment step of IVF/SemDeDup exposed as a
    standalone column transform (all other columns ride along untouched);
    null or empty vectors get cluster -1.

    With ``nprobe > 1`` each row is REPLICATED to its nprobe nearest
    clusters (one output row per probe) — the multiprobe trick that buys
    blocked near-dup recall for ×nprobe replication instead of a bigger
    verify block.
    """
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))
    p = max(1, int(nprobe))

    @F.pandas_udf("array<int>")
    def _assign(vs: pd.Series) -> pd.Series:
        C = bc.value
        c2 = (C ** 2).sum(axis=1)
        np_ = min(p, len(C))
        vals = vs.tolist()
        out = [[-1]] * len(vals)
        ok = [i for i, v in enumerate(vals) if v is not None and len(v)]
        if ok:
            X = np.asarray([vals[i] for i in ok], dtype=np.float64)
            d = c2[None, :] - 2.0 * (X @ C.T)
            if np_ == 1:
                near = np.argmin(d, axis=1)[:, None]
            else:
                near = np.argpartition(d, np_ - 1, axis=1)[:, :np_]
            for row, idx in zip(near, ok):
                out[idx] = [int(c) for c in row]
        return pd.Series(out)

    probed = df.withColumn("_probes", _assign(F.col(vec_col)))
    if p == 1:
        return probed.withColumn(out_col, F.col("_probes")[0]).drop("_probes")
    return (probed.withColumn(out_col, F.explode("_probes"))
            .drop("_probes"))


def ivf_topk(queries: DataFrame, corpus: DataFrame,
             centroids: Optional[np.ndarray] = None, k: int = 10,
             nprobe: int = 4, n_clusters: int = 16,
             query_id: str = "vec_id", corpus_id: str = "vec_id",
             vec_col: str = "embedding", exclude_self: bool = True,
             seed: int = 42) -> DataFrame:
    """IVF approximate top-k: corpus in trained inverted lists, each query
    probes its ``nprobe`` nearest lists.

    The classic ANN index shape on Spark: one pass assigns corpus vectors to
    their centroid list (map-only, centroid matrix broadcast), queries
    explode to their nprobe candidate lists, and the search is an equi-join
    on the list id — per-query work scales with nprobe/n_clusters of the
    corpus instead of all of it. Returned cosines are exact (true values for
    the scanned candidates); recall < 1 by construction — measured against
    :func:`cosine_topk` in tests; raise ``nprobe`` to trade cost for recall.
    """
    if centroids is None:
        centroids = kmeans_centroids(corpus, vec_col, k=n_clusters, seed=seed)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(centroids, dtype=np.float64))

    def assign_one(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        c2 = (C ** 2).sum(axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            a = np.argmin(c2[None, :] - 2.0 * (X @ C.T), axis=1)
            out = pdf.copy()
            out["_c"] = a.astype("int32")
            yield out

    def assign_probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        c2 = (C ** 2).sum(axis=1)
        np_ = min(nprobe, len(C))
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            d = c2[None, :] - 2.0 * (X @ C.T)
            probes = np.argpartition(d, np_ - 1, axis=1)[:, :np_]
            idx = np.repeat(np.arange(len(pdf)), np_)
            out = pdf.iloc[idx].copy()
            out["_c"] = probes.ravel().astype("int32")
            yield out

    c = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(vec_col).alias("_v"))
    c_assigned = c.mapInPandas(assign_one, "neighbor_id long, _v array<float>, _c int")
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).alias("_v"))
    q_probed = (q.mapInPandas(assign_probes, "query_id long, _v array<float>, _c int")
                .withColumnRenamed("_v", "_qv"))

    sims = q_probed.join(c_assigned, on="_c").withColumn(
        "cosine", cosine(F.col("_qv"), F.col("_v"))
    )
    if exclude_self:
        sims = sims.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def mine_contrastive_pairs(anchors: DataFrame, corpus: DataFrame,
                           label_col: str = "label", k_neg: int = 5,
                           k_pos: int = 0,
                           anchor_id: str = "vec_id",
                           corpus_id: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Contrastive training-pair mining: for every anchor, the ``k_neg``
    most-similar DIFFERENT-label rows (hard negatives — the examples a
    contrastive loss learns most from) and, when ``k_pos > 0``, the
    ``k_pos`` most-similar SAME-label rows (positives).

    Returns ``(query_id, neighbor_id, kind, cosine, rnk)`` with ``kind`` in
    {'pos','neg'} and rnk 1..k per (anchor, kind), ordered by (cosine desc,
    neighbor id asc) — deterministic under ties. Labels compare null-safe
    (two null labels are the SAME class).

    Scale shape: same as :func:`cosine_topk` — the anchor batch broadcasts
    (mine per bounded batch, not the whole corpus at once; the corpus side
    streams map-side), similarities never shuffle before the per-anchor
    top-k window partitioned by (anchor, kind). Swap the candidate
    generator for :func:`ivf_topk`'s inverted lists when the corpus is too
    large for brute force per batch.
    """
    if k_neg < 1:
        raise ValueError(f"k_neg must be >= 1, got {k_neg}")
    q = anchors.select(F.col(anchor_id).alias("query_id"),
                       F.col(label_col).alias("_ql"),
                       F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(label_col).alias("_cl"),
                      F.col(vec_col).alias("_cv"))
    sims = (c.crossJoin(F.broadcast(q))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cosine", cosine(F.col("_qv"), F.col("_cv")))
            .withColumn("kind", F.when(F.col("_ql").eqNullSafe(F.col("_cl")),
                                       F.lit("pos")).otherwise(F.lit("neg"))))
    if k_pos <= 0:
        sims = sims.filter(F.col("kind") == "neg")
    w = Window.partitionBy("query_id", "kind").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    kmax = F.when(F.col("kind") == "pos", F.lit(k_pos)).otherwise(F.lit(k_neg))
    return (sims.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= kmax)
            .select("query_id", "neighbor_id", "kind", "cosine", "rnk"))


def silhouette_simplified(df: DataFrame, centroids: DataFrame,
                          vec_col: str = "embedding",
                          centroid_id: str = "cid",
                          centroid_vec: str = "ce") -> DataFrame:
    """Simplified silhouette per cluster (the medoid-free variant used
    at scale, e.g. sklearn's "simplified silhouette"): each point's
    ``a`` = L2 distance to its NEAREST centroid (its cluster), ``b`` =
    distance to the second-nearest, ``s = (b − a)/max(a, b)`` → one row
    per cluster ``(cluster, n, mean_s)`` (4 decimals).  ``s`` near 1 =
    tight well-separated cluster; near 0 = boundary soup.

    ``centroids`` is a (small) DataFrame of (id, vector) — pass pinned
    or trained centroids.  Shape: broadcast C-row centroid table ×
    corpus, in-plan fold distances (exact, SQL-replayable — same
    contract as centroid_classify), one per-point window for the two
    nearest, one groupBy(cluster).  Points with null vectors are
    skipped; C must be ≥ 2 (no second-nearest otherwise).
    """
    c = centroids.select(F.col(centroid_id).alias("_cid"),
                         F.col(centroid_vec).alias("_ce"))
    t = df.filter(F.col(vec_col).isNotNull()).select(
        F.monotonically_increasing_id().alias("_rid"),
        F.col(vec_col).alias("_v"))
    dot = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_ce"),
                   lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, v: acc + v)
    ce2 = F.aggregate("_ce", F.lit(0.0), lambda acc, v: acc + v * v)
    x2 = F.aggregate(
        F.transform("_v", lambda a: a.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v * v)
    w = Window.partitionBy("_rid").orderBy(F.asc("_d"), F.asc("_cid"))
    ranked = (t.crossJoin(F.broadcast(c))
              .withColumn("_d", F.sqrt(F.greatest(x2 + ce2 - 2.0 * dot,
                                                  F.lit(0.0))))
              .withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") <= 2))
    ab = (ranked.groupBy("_rid")
          .agg(F.min(F.when(F.col("_rk") == 1, F.col("_cid")))
               .alias("cluster"),
               F.min(F.when(F.col("_rk") == 1, F.col("_d"))).alias("_a"),
               F.min(F.when(F.col("_rk") == 2, F.col("_d"))).alias("_b")))
    s = F.when(F.greatest("_a", "_b") > 0,
               (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b")) \
         .otherwise(F.lit(0.0))
    return (ab.filter(F.col("_b").isNotNull())
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 (F.round(F.avg(s) * 1e4) / 1e4 + F.lit(0.0))
                 .alias("mean_s")))


def hard_negatives(df: DataFrame, k: int = 5, *,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   label_col: str = "label",
                   max_cosine: float = None,
                   anchors: DataFrame = None,
                   engine: str = "auto",
                   max_local_anchors: int = 10000) -> DataFrame:
    """Hard-NEGATIVE mining for contrastive training: per anchor, the
    top-k highest-cosine vectors whose LABEL DIFFERS — the negatives
    that actually move an embedding model (random negatives are too
    easy; same-label vectors are positives). Returns ``(anchor_id,
    anchor_label, negative_id, negative_label, cosine, rnk)``,
    deterministic ties (cosine desc, id asc).

    ``max_cosine`` (optional) excludes candidates ABOVE the ceiling —
    near-identical cross-label pairs are usually mislabeled duplicates,
    and training on them as negatives poisons the objective; route
    them to the dedup/label-audit queue instead.

    Shape: the anchor side is collected to the driver (the standard
    fixed-query-load mining pass — the same bounded set the previous
    formulation broadcast) and similarities are computed in ONE
    vectorized ``mapInPandas`` kernel over the corpus scan that emits
    only each anchor's per-batch top-k frontier (candidates at or above
    the batch's k-th cosine), so the shuffle into the global top-k
    window carries O(anchors × k) rows per batch instead of the full
    anchors × corpus cross product evaluated through interpreted
    higher-order-function folds. The kernel's float64 dot/norm folds
    accumulate in element order — bit-identical to the previous
    ``aggregate(zip_with(...))`` Column expression, so unrounded-cosine
    tie-breaks cannot drift. Anchor loads above ``max_local_anchors``
    fall back to the broadcast crossJoin plan (``engine="join"`` forces
    it; at full-corpus anchor loads run per label-block or over ANN
    candidates instead).

    Corner-case note (kernel path): every NaN the kernel computes
    (zero-norm vectors' 0/0, null elements arriving as NaN through
    Arrow) is emitted as a pandas NaN and becomes a SQL **null** on the
    Arrow hop back — which is exactly what the Column expression
    produces for those inputs (Spark's ``Divide`` nulls on a zero
    divisor; a null element nulls the ``zip_with`` fold), so ordering
    and ceiling semantics match the join engine. The one remaining
    divergence is a vector whose DATA contains a real NaN value: the
    join engine yields a NaN cosine (sorts before all reals in the
    desc window) while the kernel's NaN degrades to null (sorts last).
    ``engine="join"`` restores exact NaN ordering for such data."""
    a = (anchors if anchors is not None else df).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("_av"))
    c = df.select(F.col(id_col).alias("negative_id"),
                  F.col(label_col).alias("negative_label"),
                  F.col(vec_col).alias("_cv"))
    if engine not in ("auto", "local", "join"):
        raise ValueError(f"engine must be 'auto', 'local' or 'join', "
                         f"got {engine!r}")
    a_rows = None
    if engine != "join":
        probe = a.limit(max_local_anchors + 1).collect()
        if len(probe) <= max_local_anchors:
            a_rows = probe
        elif engine == "local":
            raise ValueError(
                f"engine='local' but anchor count exceeds "
                f"max_local_anchors={max_local_anchors}")
    if a_rows is not None:
        sims = _hard_negatives_map(c, a, a_rows, k, max_cosine)
    else:
        sims = (c.crossJoin(F.broadcast(a))
                .filter(F.col("anchor_label") != F.col("negative_label"))
                .withColumn("cosine", cosine(F.col("_av"), F.col("_cv")))
                .select("anchor_id", "anchor_label", "negative_id",
                        "negative_label", "cosine"))
        if max_cosine is not None:
            sims = sims.filter(F.col("cosine") <= max_cosine)
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id"))
    return (sims.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("anchor_id", "anchor_label", "negative_id",
                    "negative_label", "cosine", "rnk"))


def _hard_negatives_map(c: DataFrame, a: DataFrame, a_rows: list,
                        k: int, max_cosine) -> DataFrame:
    """Map-side hard-negative frontier: per corpus batch, each anchor's
    candidates at or above the batch's k-th highest cosine (ties and
    NaNs included), computed with element-order float64 folds that
    bit-match the native ``aggregate(zip_with(...))`` expression. The
    global window over the union of batch frontiers reproduces the full
    cross-product top-k exactly."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType([
        StructField("anchor_id", a.schema["anchor_id"].dataType),
        StructField("anchor_label", a.schema["anchor_label"].dataType),
        StructField("negative_id", c.schema["negative_id"].dataType),
        StructField("negative_label", c.schema["negative_label"].dataType),
        StructField("cosine", DoubleType()),
    ])
    kk = int(k)
    ceiling = None if max_cosine is None else float(max_cosine)

    # driver-side anchor prep: group valid-vector anchors by dimension
    # (one matrix per dim); anchors with a null label produce no rows
    # (label != null is never true); anchors with an unusable vector
    # pair at null cosine — only visible without a ceiling.
    by_dim: dict = {}
    bad_vec: list = []
    for r in a_rows:
        aid, alab, av = r[0], r[1], r[2]
        if alab is None:
            continue
        arr = None
        if av is not None:
            try:
                cand = np.asarray(av, dtype=np.float64)
                if cand.ndim == 1 and not any(x is None for x in av):
                    arr = cand
            except (TypeError, ValueError):
                arr = None
        if arr is None:
            bad_vec.append((aid, alab))
        else:
            by_dim.setdefault(len(arr), []).append((aid, alab, arr))
    groups = []
    for d_, items in by_dim.items():
        A = np.stack([it[2] for it in items])
        # norm via the same left fold the Column expression runs
        accn = np.zeros(len(items))
        for i in range(d_):
            accn += A[:, i] * A[:, i]
        groups.append((d_, [it[0] for it in items],
                       [it[1] for it in items], A, np.sqrt(accn)))

    def _mine(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            nb = len(pdf)
            ids = pdf["negative_id"].to_numpy()
            labs = pdf["negative_label"].to_numpy()
            lab_ok = pdf["negative_label"].notna().to_numpy()
            raw = pdf["_cv"].to_numpy()
            # vector parse: fast path one stack; slow path per-row on
            # ragged / null / malformed cells
            mats: dict = {}
            covered = np.zeros(nb, dtype=bool)
            try:
                M = np.stack(raw).astype(np.float64)
                if M.ndim == 2:
                    mats[M.shape[1]] = (np.arange(nb), M)
                    covered[:] = True
            except (TypeError, ValueError):
                pass
            if not covered.all():
                arrs, dims = [], np.full(nb, -1, dtype=np.int64)
                for i, v in enumerate(raw):
                    if v is None:
                        arrs.append(None)
                        continue
                    try:
                        a_ = np.asarray(v, dtype=np.float64)
                    except (TypeError, ValueError):
                        arrs.append(None)
                        continue
                    if a_.ndim != 1:
                        arrs.append(None)
                        continue
                    arrs.append(a_)
                    dims[i] = len(a_)
                for d_ in np.unique(dims[dims >= 0]):
                    idx = np.nonzero(dims == d_)[0]
                    mats[int(d_)] = (idx, np.stack([arrs[i] for i in idx]))
                    covered[idx] = True
            frames = []

            def _emit(aid, alab, rsel, cos_vals):
                if len(rsel) == 0:
                    return
                frames.append(pd.DataFrame({
                    "anchor_id": [aid] * len(rsel),
                    "anchor_label": [alab] * len(rsel),
                    "negative_id": ids[rsel],
                    "negative_label": labs[rsel],
                    "cosine": cos_vals,
                }))

            def _emit_nulls(aid, alab, mask):
                # null-cosine pairs matter only without a ceiling
                # (desc sorts them last): k smallest candidate ids
                if ceiling is not None or not mask.any():
                    return
                sel = pd.Series(ids[mask]).sort_values(kind="stable")
                rsel = np.nonzero(mask)[0][sel.index[:kk].to_numpy()]
                _emit(aid, alab, rsel, [None] * len(rsel))

            for d_, a_ids, a_labs, A, an in groups:
                hit = mats.get(d_)
                if hit is not None:
                    ridx, M = hit
                    nbm = len(ridx)
                    na = len(a_ids)
                    # element-order folds == aggregate(zip_with) exactly
                    acc = np.zeros((nbm, na))
                    for i in range(d_):
                        acc += M[:, i][:, None] * A[:, i][None, :]
                    accn = np.zeros(nbm)
                    for i in range(d_):
                        accn += M[:, i] * M[:, i]
                    cn = np.sqrt(accn)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = acc / (an[None, :] * cn[:, None])
                    b_lab_ok = lab_ok[ridx]
                    b_labs = labs[ridx]
                for j, (aid, alab) in enumerate(zip(a_ids, a_labs)):
                    if hit is not None:
                        m = b_lab_ok & (b_labs != alab)
                        rows = ridx[m]
                        cj = cos[m, j]
                        if ceiling is not None:
                            keep = cj <= ceiling  # NaN excluded, as SQL
                            rows, cj = rows[keep], cj[keep]
                        if len(cj) > kk:
                            # NaN cosines become SQL NULLs on the Arrow
                            # hop (pandas NaN -> null) and sort LAST in
                            # the desc window, exactly like the join
                            # engine's divide-by-zero nulls — so the
                            # k-th-highest threshold must be computed
                            # over REAL values only (np.partition would
                            # otherwise rank NaN highest and evict real
                            # candidates from the frontier).
                            real = cj[~np.isnan(cj)]
                            if len(real) > kk:
                                thr = np.partition(
                                    real, len(real) - kk)[len(real) - kk]
                                keep = (cj >= thr) | np.isnan(cj)
                                rows, cj = rows[keep], cj[keep]
                        _emit(aid, alab, rows, cj)
                        _emit_nulls(aid, alab,
                                    ~covered & lab_ok & (labs != alab))
                    else:
                        _emit_nulls(aid, alab, lab_ok & (labs != alab))
            for aid, alab in bad_vec:
                _emit_nulls(aid, alab, lab_ok & (labs != alab))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return c.select("negative_id", "negative_label", "_cv") \
        .mapInPandas(_mine, out_schema)
