"""Late-interaction retrieval (ColBERT-style MaxSim) — the modern
middle ground between single-vector ANN (cheap, lossy) and
cross-encoders (accurate, unscalable): documents and queries keep
PER-TOKEN embeddings, and the score is

    MaxSim(q, d) = Σ_{query token t}  max_{doc token u} cos(t, u).

A 100-TB retrieval/dedup pipeline uses this as the rerank stage over
ANN candidates, so both shapes live here:

- **brute** (`n_candidates=0`): query tokens mined against the full
  doc-token table — the Q×N map-side shape shared with
  :func:`~.similarity.cosine_topk`.  The default (r12 opt) is ONE
  Arrow kernel over the doc-token scan emitting per-batch partial
  maxes (interpreted ``aggregate(zip_with(...))`` folds sit outside
  codegen and were ~the whole cost of the broadcast-join plan); the
  broadcast-crossJoin + Column-cosine engine remains the fallback
  above the query-token cap and via ``engine="join"``.  Both finish
  through the SAME two partial-aggregated groupBys (per-(q,d,qt)
  max, per-(q,d) sum) and window.
- **two-phase** (`n_candidates>0`): mean-pool tokens to one vector
  per doc/query, prune to ``n_candidates`` per query with pooled
  cosine, then run exact MaxSim ONLY on the candidate pairs — the
  at-scale path (pooled pruning is the standard ColBERT serving
  trick; recall loss is bounded by pooling quality, not by MaxSim).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window, functions as F

from bid_evaluation_ext.dispatch import local_cap

_MAXSIM_LOCAL_MAX_QTOKENS = 10_000


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v * v))


def _cos(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _sum_pool(tokens: DataFrame, id_col: str,
              vec_col: str) -> DataFrame:
    """Sum-pooled vector per id (cosine is scale-invariant, so the
    sum pool ranks identically to the mean pool). posexplode →
    per-dimension sum → re-assemble sorted by position, so the array
    order never depends on shuffle arrival."""
    ex = tokens.select(F.col(id_col),
                       F.posexplode(F.col(vec_col))
                       .alias("_pos", "_val"))
    per_dim = (ex.groupBy(id_col, "_pos")
               .agg(F.sum("_val").alias("_s")))
    return (per_dim.groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_s"))),
                lambda st: st["_s"]).alias("pooled")))


def pooled_candidates(doc_tokens: DataFrame, query_tokens: DataFrame,
                      n_candidates: int, *, doc_id: str = "doc_id",
                      query_id: str = "query_id",
                      vec_col: str = "vec",
                      exclude_self: bool = False) -> DataFrame:
    """Phase 1 of the two-phase path: the ``n_candidates`` best
    pooled-cosine docs per query (ties by ascending doc id) →
    ``(_q, _d)``. BY CONSTRUCTION the output is ≤ n_candidates rows
    per query (row_number cutoff), so the exact-MaxSim rerank joined
    onto it never widens beyond ``n_candidates × query_tokens ×
    doc_tokens_per_doc`` rows per query regardless of corpus size —
    the bound the scaling family measures and a test asserts."""
    dp = _sum_pool(doc_tokens, doc_id, vec_col).select(
        F.col(doc_id).alias("_d"), F.col("pooled").alias("_dp"))
    qp = _sum_pool(query_tokens, query_id, vec_col).select(
        F.col(query_id).alias("_q"), F.col("pooled").alias("_qp"))
    sims = dp.crossJoin(F.broadcast(qp)).select(
        "_q", "_d", _cos(F.col("_qp"), F.col("_dp")).alias("_s"))
    if exclude_self:
        sims = sims.filter(F.col("_q") != F.col("_d"))
    w0 = Window.partitionBy("_q").orderBy(F.desc("_s"), F.asc("_d"))
    return (sims.withColumn("_r", F.row_number().over(w0))
            .filter(F.col("_r") <= n_candidates)
            .select("_q", "_d"))


def _maxsim_partials_kernel(qtok_rows: list, d: DataFrame,
                            exclude_self: bool, qid_type, qt_type,
                            did_type) -> DataFrame:
    """Per-batch partial (q, d, qt, max-cosine) rows from ONE
    ``mapInPandas`` pass over the doc-token scan — the map side of the
    brute MaxSim, with the interpreted HOF cosine replaced by per-dim
    element-order float64 folds that bit-match the Column expression
    (the :func:`~.similarity._cosine_topk_kernel` arithmetic).

    Pair semantics replicated exactly: a (q, d, qt) group exists for
    every doc that has ≥1 token surviving the ``exclude_self`` filter
    (null doc ids and null query ids are dropped by the join engine's
    ``_q != _d`` null semantics when excluding self, kept as their own
    group otherwise); a group whose every pair cosine is null (dim
    mismatch / null vector / null element / zero norm — Spark's
    ``Divide`` nulls /0) emits a NULL partial so the downstream
    ``max`` stays null.  NaN/Inf INPUT elements are outside the
    contract (same note as the cosine_topk kernel: NaN would become a
    SQL null on the Arrow hop where the join engine carries a NaN).
    Partial maxes merge exactly under the shared ``groupBy(...).max``
    (max is order-free on reals)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    from .similarity import _fold_norm, _parse_vec

    out_schema = StructType([
        StructField("_q", qid_type),
        StructField("_d", did_type),
        StructField("_qt", qt_type),
        StructField("_c", DoubleType()),
    ])

    groups: dict = {}   # dim -> list[(qid, qt, arr)]
    bad_q: list = []    # unparseable query vectors: null cosine always
    for r in qtok_rows:
        qid, qt, qv = r["_q"], r["_qt"], r["_qv"]
        if exclude_self and qid is None:
            continue            # _q != _d is null → every pair dropped
        arr = _parse_vec(qv)
        if arr is None:
            bad_q.append((qid, qt))
        else:
            groups.setdefault(len(arr), []).append((qid, qt, arr))
    qdims = []
    for d_, items in groups.items():
        Qm = np.stack([it[2] for it in items])
        qdims.append((d_, [(it[0], it[1]) for it in items], Qm,
                      _fold_norm(Qm)))

    def _mine(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["_d"]
            id_null = ids.isna().to_numpy()
            codes, uniq = pd.factorize(ids, use_na_sentinel=False)
            nuniq = len(uniq)
            uniq_vals = [None if (u is None or (isinstance(u, float)
                                                and np.isnan(u)))
                         else u for u in uniq.tolist()]
            arrs = [_parse_vec(v) for v in pdf["_dv"].to_numpy()]
            dims = np.array([-1 if a is None else len(a) for a in arrs],
                            dtype=np.int64)
            mats = {}
            for d_ in np.unique(dims[dims >= 0]):
                idx = np.nonzero(dims == d_)[0]
                mats[int(d_)] = (idx, np.stack([arrs[i] for i in idx]))
            dnorm = {d_: _fold_norm(M) for d_, (idx, M) in mats.items()}
            rows = {"_q": [], "_d": [], "_qt": [], "_c": []}

            def keep_mask(qid):
                if not exclude_self:
                    return np.ones(len(pdf), dtype=bool)
                m = ~id_null
                with np.errstate(invalid="ignore"):
                    m &= ids.to_numpy() != qid
                return m

            def emit(qid, qt, kept, vmax, seen_real):
                sel = np.nonzero(kept > 0)[0]
                for c in sel:
                    rows["_q"].append(qid)
                    rows["_d"].append(uniq_vals[c])
                    rows["_qt"].append(qt)
                    rows["_c"].append(float(vmax[c]) if seen_real[c]
                                      else None)

            for d_, labels, Qm, qn in qdims:
                same = mats.get(int(d_))
                cos = None
                if same is not None:
                    idx, M = same
                    acc = np.zeros((len(labels), len(idx)))
                    for i in range(int(d_)):
                        acc += Qm[:, i][:, None] * M[:, i][None, :]
                    dv = qn[:, None] * dnorm[int(d_)][None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = acc / dv
                    cos_null = (dv == 0) | np.isnan(cos)
                for qi, (qid, qt) in enumerate(labels):
                    km = keep_mask(qid)
                    kept = np.bincount(codes[km], minlength=nuniq)
                    vmax = np.full(nuniq, -np.inf)
                    seen_real = np.zeros(nuniq, dtype=bool)
                    if cos is not None:
                        rk = km[idx] & ~cos_null[qi]
                        rc = codes[idx[rk]]
                        np.maximum.at(vmax, rc, cos[qi][rk])
                        seen_real[rc] = True
                    emit(qid, qt, kept, vmax, seen_real)
            for qid, qt in bad_q:
                km = keep_mask(qid)
                kept = np.bincount(codes[km], minlength=nuniq)
                emit(qid, qt, kept, np.empty(nuniq),
                     np.zeros(nuniq, dtype=bool))
            if rows["_q"]:
                yield pd.DataFrame({
                    "_q": pd.Series(rows["_q"], dtype="object"),
                    "_d": pd.Series(rows["_d"], dtype="object"),
                    "_qt": pd.Series(rows["_qt"], dtype="object"),
                    "_c": pd.Series(rows["_c"], dtype="object"),
                })

    return d.mapInPandas(_mine, out_schema)


def maxsim_topk(doc_tokens: DataFrame, query_tokens: DataFrame,
                k: int = 5, *, n_candidates: int = 0,
                doc_id: str = "doc_id", query_id: str = "query_id",
                token_col: str = "token_idx",
                vec_col: str = "vec",
                exclude_self: bool = False,
                engine: str = "auto") -> DataFrame:
    """Top-k docs per query by MaxSim → ``(query_id, doc_id, maxsim,
    rnk)``, rank ties broken by ascending doc id (deterministic).
    ``query_tokens`` must carry ``token_col`` distinguishing the
    query's tokens (the outer Σ runs over it).

    ``n_candidates>0`` enables the pooled-prune two-phase path; the
    candidate set per query is the ``n_candidates`` best pooled-cosine
    docs (ties by id), then exact MaxSim reranks them.

    Brute-path engines (identical output — parity-tested):

    - ``kernel`` (default via ``auto``, r12 opt): the bounded
      query-token set (the join engine broadcast-collects the same
      rows) is mined in ONE Arrow pass over the doc-token scan —
      per-dim element-order float64 folds bit-matching the
      ``aggregate(zip_with(...))`` Column cosine, with per-batch
      partial maxes so the shuffle carries O(queries × docs) rows
      instead of queries × doc_tokens.
    - ``join``: broadcast crossJoin + interpreted Column cosine —
      runs unchanged above ``SPARK_GRAFT_MAXSIM_LOCAL_MAX_QTOKENS``
      (default 10k) query-token rows, so the dispatch stays
      data-size-adaptive.  ``n_candidates>0`` always uses the join
      shape (the candidate prune already bounds the pair set).
    """
    if engine not in ("auto", "kernel", "join"):
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")
    d = doc_tokens.select(F.col(doc_id).alias("_d"),
                          F.col(vec_col).alias("_dv"))
    q = query_tokens.select(F.col(query_id).alias("_q"),
                            F.col(token_col).alias("_qt"),
                            F.col(vec_col).alias("_qv"))

    per_qt_in = None
    if n_candidates > 0:
        cand = pooled_candidates(doc_tokens, query_tokens,
                                 n_candidates, doc_id=doc_id,
                                 query_id=query_id, vec_col=vec_col,
                                 exclude_self=exclude_self)
        pairs = d.join(cand, "_d").join(F.broadcast(q), "_q")
    elif engine != "join":
        cap = local_cap("SPARK_GRAFT_MAXSIM_LOCAL_MAX_QTOKENS", _MAXSIM_LOCAL_MAX_QTOKENS)
        qtok_rows = (q.limit(cap + 1).collect() if engine == "auto"
                     else q.collect())
        if engine == "kernel" or len(qtok_rows) <= cap:
            per_qt_in = _maxsim_partials_kernel(
                qtok_rows, d, exclude_self,
                query_tokens.schema[query_id].dataType,
                query_tokens.schema[token_col].dataType,
                doc_tokens.schema[doc_id].dataType)
            pairs = None
        else:
            pairs = d.crossJoin(F.broadcast(q))
            if exclude_self:
                pairs = pairs.filter(F.col("_q") != F.col("_d"))
    else:
        pairs = d.crossJoin(F.broadcast(q))
        if exclude_self:
            pairs = pairs.filter(F.col("_q") != F.col("_d"))

    if per_qt_in is None:
        per_qt_in = pairs.select("_q", "_d", "_qt",
                                 _cos(F.col("_qv"),
                                      F.col("_dv")).alias("_c"))
    # both engines finish through literally the same aggregation tail
    per_qt = (per_qt_in
              .groupBy("_q", "_d", "_qt")
              .agg(F.max("_c").alias("_m")))
    scores = (per_qt.groupBy("_q", "_d")
              .agg(F.sum("_m").alias("maxsim")))
    w = Window.partitionBy("_q").orderBy(F.desc("maxsim"), F.asc("_d"))
    return (scores.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(F.col("_q").alias(query_id),
                    F.col("_d").alias(doc_id),
                    "maxsim", F.col("rnk").cast("long").alias("rnk")))
