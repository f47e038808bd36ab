"""Model-based curation operators: Naive Bayes text classification and
logistic regression over embedding features.

Beyond-reference operators (no counterpart in ``/root/reference``): the
model-based filtering stage of an LLM data pipeline — a fastText-style
quality/language classifier gating documents, and a linear probe over
embeddings. Both are built so that TRAINING is itself a DataFrame
aggregation (not a driver-side loop over collected data):

- Naive Bayes: the model IS a ``(token, per-class count)`` aggregate — one
  explode + groupBy over the training corpus, pivoted to one row per token
  (class count is small and known). Scoring equi-joins each document's
  distinct tokens to that table once (the pivot avoids a ``×n_classes``
  join blow-up) and sums per-class log-probabilities in a single hash
  aggregate. Class priors / totals / vocabulary size are three scalar
  aggregates folded in as literals.
- Logistic regression: batch gradient descent where each round is ONE
  aggregation job computing all ``d+1`` gradient sums with map-side partial
  aggregation — no per-dimension explode, no shuffle of feature vectors.
  The weight vector (d floats) ships driver→executors as literals each
  round, exactly like the k-means centroids in :mod:`.similarity`; the
  plan stays flat across rounds because weights are literals, so no
  lineage checkpointing is needed.

At 100 TB: NB training shuffles ``(class, token)`` pairs (partially
aggregated map-side to ~vocab×classes rows); NB scoring is one broadcast-
or-shuffle hash join on token plus one groupBy on the document key.
Logistic regression rounds scan the feature table with no shuffle at all
(the gradient is a global aggregate) — the classic data-parallel GD shape.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import List, Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import tokens

from bid_evaluation_ext.dispatch import local_cap

__all__ = ["NBModel", "nb_train", "nb_predict", "nb_classify",
           "LogRegModel", "logreg_train", "logreg_predict"]


# ---------------------------------------------------------------------------
# Naive Bayes
# ---------------------------------------------------------------------------

@dataclass
class NBModel:
    """Multinomial-NB model: per-token class log-likelihood table plus the
    scalar pieces (priors, unseen-token floors) that fold in as literals."""
    labels: List[str]                  # sorted class labels
    log_priors: List[float]            # ln(docs_c / n_docs), aligned to labels
    floors: List[float]                # ln(add_k / (n_tokens_c + add_k·V))
    table: DataFrame                   # (_tok, _lp_0.._lp_{C-1})
    add_k: float
    lowercase: bool
    vocab: Optional[int] = None        # |V|, known from training (predict
    #                                    dispatch probe; None → count(table))

    def release(self) -> None:
        self.table.unpersist()


def _norm_tokens(text: Column, lowercase: bool) -> Column:
    return tokens(F.lower(text) if lowercase else text)


def nb_train(train: DataFrame, text_col: str = "text",
             label_col: str = "lang", add_k: float = 1.0,
             lowercase: bool = True) -> NBModel:
    """Train multinomial Naive Bayes: P(c|d) ∝ P(c)·Π P(tok|c) with add-k
    smoothing ``P(tok|c) = (count(tok,c)+k) / (n_tokens_c + k·V)``.

    Rows with a null label are excluded (they would otherwise form a
    ghost class). Class count must be small (it becomes a pivot width and
    a literal list); vocabulary may be arbitrarily large — it stays
    distributed as the ``(token, per-class log-prob)`` table.
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    labeled = train.filter(F.col(label_col).isNotNull())
    toks = labeled.select(
        F.col(label_col).cast("string").alias("_cls"),
        F.explode(_norm_tokens(F.col(text_col), lowercase)).alias("_tok"))
    counts = toks.groupBy("_cls", "_tok").agg(F.count("*").alias("_c"))
    counts = counts.persist()

    prior_rows = (labeled.groupBy(F.col(label_col).cast("string").alias("_cls"))
                  .agg(F.count("*").alias("_d")).collect())
    doc_counts = {r["_cls"]: r["_d"] for r in prior_rows}
    n_docs = sum(doc_counts.values())
    if n_docs == 0:
        counts.unpersist()
        raise ValueError("training corpus has no labeled rows")
    # priors run first so the labels are known, letting |V| and the
    # per-class token totals come from ONE aggregation job over the
    # cached counts (r12 opt: previously two driver-synced jobs — a
    # per-class groupBy collect plus a distinct-token count)
    labels_sorted = sorted(doc_counts)
    stat_row = counts.agg(
        F.countDistinct("_tok").alias("_v"),
        *[F.coalesce(F.sum(F.when(F.col("_cls") == c, F.col("_c"))),
                     F.lit(0)).alias(f"_n_{i}")
          for i, c in enumerate(labels_sorted)]).collect()[0]
    vocab = stat_row["_v"]
    totals = {c: stat_row[f"_n_{i}"] for i, c in enumerate(labels_sorted)}

    labels = labels_sorted
    log_priors = [math.log(doc_counts[c] / n_docs) for c in labels]
    # vocab == 0 (every training doc is empty) degenerates to priors-only
    # scoring: the model table is empty and no token can ever be looked up,
    # so the floor value is arbitrary — 0.0 keeps it finite instead of
    # raising ZeroDivisionError (found by the duplication property test)
    floors = [math.log(add_k / (float(totals.get(c, 0)) + add_k * vocab))
              if vocab > 0 else 0.0
              for c in labels]

    wide = counts.groupBy("_tok").pivot("_cls", labels).agg(F.first("_c"))
    lp_cols = [
        F.log((F.coalesce(F.col(f"`{c}`"), F.lit(0)).cast("double")
               + F.lit(float(add_k)))
              / F.lit(float(totals.get(c, 0)) + add_k * vocab)
              ).alias(f"_lp_{i}")
        for i, c in enumerate(labels)
    ]
    table = wide.select("_tok", *lp_cols).persist()
    counts.unpersist()
    return NBModel(labels=labels, log_priors=log_priors, floors=floors,
                   table=table, add_k=add_k, lowercase=lowercase,
                   vocab=int(vocab))


_NB_LOCAL_MAX_VOCAB = 500_000


def nb_predict(df: DataFrame, model: NBModel, text_col: str = "text",
               id_col: str = "doc_id", round_digits: int = 6,
               engine: str = "auto") -> DataFrame:
    """Score + argmax: ``(id, pred_label, pred_logp, n_tokens)``.

    The argmax compares scores ROUNDED to ``round_digits`` decimals with
    ties broken by label order — floating-point sums are order-dependent
    across engines, so ranking on raw doubles would flip near-ties between
    Spark and an oracle (measured lesson: never rank on a raw double).
    Documents with no tokens get the prior-only argmax.

    Engines (r12 opt): ``auto`` collects the model table below
    ``SPARK_GRAFT_NB_LOCAL_MAX_VOCAB`` (default 500k tokens — the probe
    is free, |V| is recorded at training) and scores every document in
    ONE map-only Arrow kernel over the native token arrays — no explode,
    no model join, no per-doc aggregation shuffle; the kernel sums each
    class in prior-first document-token order with float64 (the join
    engine's own partial-sum order is partition-dependent, so both
    engines live in the same order-equivalence class; consumers rank on
    ROUNDED scores — the operator's published contract — and the
    rounding/argmax tail below is literally the same Column code for
    both engines). Above the cap (or ``engine="join"``) the vocabulary
    stays distributed: per-(doc, distinct-token) multiplicities, one
    1:1 join against the model table, one fused score aggregation.

    Streaming: the join engine chains two aggregations, so it cannot run
    directly on an unbounded stream — deploy via ``foreachBatch`` scoring
    each micro-batch against the static model table (batch-identical
    results; tested). The map-only :func:`logreg_predict` DOES apply to
    a stream unchanged.
    """
    if engine not in ("auto", "kernel", "join"):
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")
    C = len(model.labels)
    use_kernel = False
    if engine in ("auto", "kernel"):
        import os
        cap = float("inf") if engine == "kernel" else local_cap(
            "SPARK_GRAFT_NB_LOCAL_MAX_VOCAB", _NB_LOCAL_MAX_VOCAB)
        n_vocab = model.vocab if model.vocab is not None \
            else model.table.count()
        use_kernel = n_vocab <= cap

    if use_kernel:
        import pandas as pd

        lp_rows = model.table.collect()
        lp = {r["_tok"]: tuple(r[f"_lp_{i}"] for i in range(C))
              for r in lp_rows}
        priors = tuple(model.log_priors)
        floors = tuple(model.floors)
        toks_df = df.select(
            F.col(id_col).alias("_id"),
            _norm_tokens(F.col(text_col), model.lowercase).alias("_t"))
        id_type = dict(toks_df.dtypes)["_id"]

        def score(batches):
            from collections import Counter

            pdfs = list(batches)
            if not pdfs:
                return
            pdf = (pd.concat(pdfs, ignore_index=True)
                   if len(pdfs) > 1 else pdfs[0].reset_index(drop=True))
            ids = pdf["_id"]
            # the join engine's groupBy(id) pools rows sharing an id
            # (null ids are ONE group) and emits one row per distinct
            # id — replicate by grouping within the id-hash partition
            isna = pd.isna(ids)
            groups = list(pdf.groupby(ids[~isna], sort=False).groups
                          .items())
            if isna.any():
                groups.append((None, pdf.index[isna]))
            out_ids, n_toks, scores = [], [], [[] for _ in range(C)]
            for gid, grp in groups:
                cnt = Counter()
                total = 0
                for ridx in grp:
                    t = pdf["_t"].iloc[ridx]
                    t = list(t) if t is not None else []
                    total += len(t)
                    cnt.update(t)
                out_ids.append(gid)
                n_toks.append(total)
                for i in range(C):
                    s = priors[i]
                    fl = floors[i]
                    for tok, m in cnt.items():
                        p = lp.get(tok)
                        s += float(m) * (p[i] if p is not None else fl)
                    scores[i].append(s)
            out = pd.DataFrame({"_id": out_ids, "n_tokens": n_toks})
            for i in range(C):
                out[f"_s_{i}"] = scores[i]
            yield out

        schema = (f"_id {id_type}, n_tokens long, "
                  + ", ".join(f"_s_{i} double" for i in range(C)))
        scored = (toks_df.repartition("_id")
                  .mapInPandas(score, schema)
                  .withColumnRenamed("_id", id_col))
    else:
        doc_toks = df.select(
            F.col(id_col),
            F.explode_outer(_norm_tokens(F.col(text_col),
                                         model.lowercase)).alias("_tok"))
        # per-(doc, token) multiplicity first: the model join then touches
        # one row per DISTINCT token per doc, not one per occurrence
        dt = doc_toks.groupBy(id_col, "_tok").agg(F.count("*").alias("_m"))
        joined = dt.join(model.table, on="_tok", how="left")

        score_aggs = []
        for i in range(C):
            contrib = F.when(
                F.col("_tok").isNull(), F.lit(0.0)
            ).otherwise(
                F.col("_m").cast("double")
                * F.coalesce(F.col(f"_lp_{i}"), F.lit(model.floors[i])))
            score_aggs.append(
                (F.lit(model.log_priors[i]) + F.sum(contrib)).alias(f"_s_{i}"))
        n_tok = F.sum(F.when(F.col("_tok").isNull(), F.lit(0))
                      .otherwise(F.col("_m"))).cast("long").alias("n_tokens")
        scored = joined.groupBy(id_col).agg(n_tok, *score_aggs)

    scale = float(10 ** round_digits)
    rounded = [F.round(F.col(f"_s_{i}") * scale) / scale for i in range(C)]
    best = F.greatest(*rounded) if C > 1 else rounded[0]
    pred = F.lit(model.labels[-1])
    pred_lp = F.col(f"_s_{C-1}")
    # reverse-order when-chain => FIRST label in sorted order wins ties
    for i in range(C - 2, -1, -1):
        hit = rounded[i] == best
        pred = F.when(hit, F.lit(model.labels[i])).otherwise(pred)
        pred_lp = F.when(hit, F.col(f"_s_{i}")).otherwise(pred_lp)
    return scored.select(
        id_col, pred.alias("pred_label"), pred_lp.alias("pred_logp"),
        "n_tokens")


def nb_classify(df: DataFrame, text_col: str = "text",
                label_col: str = "lang", id_col: str = "doc_id",
                train_df: Optional[DataFrame] = None, add_k: float = 1.0,
                lowercase: bool = True) -> DataFrame:
    """Train on ``train_df`` (default: ``df`` itself — self-labelling
    audit shape) and predict for every row of ``df``."""
    model = nb_train(train_df if train_df is not None else df,
                     text_col=text_col, label_col=label_col, add_k=add_k,
                     lowercase=lowercase)
    out = nb_predict(df, model, text_col=text_col, id_col=id_col)
    return out


# ---------------------------------------------------------------------------
# Logistic regression on embedding features
# ---------------------------------------------------------------------------

@dataclass
class LogRegModel:
    weights: List[float]
    bias: float
    iters: int
    lr: float
    history: List[float] = field(default_factory=list)   # mean |gradient|


def _margin(feature_col: str, w: np.ndarray, bias: float) -> Column:
    """lit-weighted dot product as a flat codegen expression (getItem terms
    added left-to-right — same association order as the SQL oracle), NOT a
    higher-order-function fold (HOFs run interpreted outside codegen).

    Built as ONE ``F.expr`` SQL string (r12 opt — the videofp py4j
    lesson): the Column-builder form made ~5 round-trips per dimension
    per call. Double literals ride as ``CAST('<repr>' AS DOUBLE)`` —
    Java's parseDouble round-trips Python's repr exactly, and constant
    folding collapses the cast to the identical double literal, so the
    arithmetic (left-associated adds, per-term cast*literal multiply)
    is unchanged."""
    def _d(x: float) -> str:
        x = float(x)
        if x != x:
            return "'NaN'"
        if x == float("inf"):
            return "'Infinity'"
        if x == float("-inf"):
            return "'-Infinity'"
        return f"'{x!r}'"

    terms = [f"CAST({_d(bias)} AS DOUBLE)"]
    for j, wj in enumerate(w):
        terms.append(f"CAST(`{feature_col}`[{j}] AS DOUBLE) * "
                     f"CAST({_d(wj)} AS DOUBLE)")
    return F.expr(" + ".join(terms))


def logreg_train(df: DataFrame, feature_col: str = "embedding",
                 y_col: str = "_y", dim: int = 64, iters: int = 3,
                 lr: float = 0.5) -> LogRegModel:
    """Batch-GD logistic regression: w ← w − lr·avg((σ(w·x+b) − y)·x).

    ``y_col`` must hold 0.0/1.0 doubles. Each round is ONE aggregation job
    producing all ``dim+1`` gradient components (map-side combined); the
    weights live on the driver (d floats) and re-enter the plan as
    literals, so the lineage never grows. Deterministic: no sampling, no
    shuffle — byte-identical weights for a given input and round count.
    """
    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    history = []
    feats = df.select(F.col(feature_col), F.col(y_col).cast("double")
                      .alias("_yy")).persist()
    try:
        for _ in range(iters):
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(feature_col, w, b)))
            # project the residual ONCE (r12 opt): the old form embedded
            # the full 65-term sigmoid subtree inside every gradient
            # aggregate — dim+1 copies for the analyzer/optimizer to
            # chew per round. Same per-row arithmetic ((p−y)·x_j, p
            # evaluates to the identical double either way), same
            # Average operator over the same partitioning ⇒
            # byte-identical weights (test-pinned).
            rdf = feats.select(F.col(feature_col),
                               (p - F.col("_yy")).alias("_r"))
            aggs = [F.expr(f"avg(_r * CAST(`{feature_col}`[{j}] AS "
                           "DOUBLE))").alias(f"_g{j}")
                    for j in range(dim)]
            aggs.append(F.avg(F.col("_r")).alias("_gb"))
            row = rdf.agg(*aggs).collect()[0]
            grad = np.array([row[f"_g{j}"] for j in range(dim)])
            gb = row["_gb"]
            w = w - lr * grad
            b = b - lr * gb
            history.append(float(np.abs(grad).mean()))
    finally:
        feats.unpersist()
    return LogRegModel(weights=[float(x) for x in w], bias=float(b),
                       iters=iters, lr=lr, history=history)


def logreg_predict(df: DataFrame, model: LogRegModel,
                   feature_col: str = "embedding",
                   threshold: float = 0.5) -> DataFrame:
    """Append ``prob`` = σ(w·x+b) and ``pred`` = prob ≥ threshold (map-only,
    whole-stage-codegen scoring — the deployment shape for a quality
    gate)."""
    w = np.asarray(model.weights, dtype=np.float64)
    p = F.lit(1.0) / (F.lit(1.0)
                      + F.exp(-_margin(feature_col, w, model.bias)))
    return df.withColumn("prob", p).withColumn(
        "pred", (F.col("prob") >= F.lit(float(threshold))).cast("int"))


def knn_classify(queries: DataFrame, corpus: DataFrame, k: int = 5,
                 query_id: str = "vec_id", corpus_id: str = "vec_id",
                 vec_col: str = "embedding",
                 label_col: str = "label") -> DataFrame:
    """k-nearest-neighbor classification over an embedding corpus
    (Fix & Hodges 1951): each query's label is the MAJORITY label among
    its k cosine-nearest corpus vectors → ``(query_id, predicted,
    votes, top_cosine)``; vote ties break to the smallest label,
    ``top_cosine`` is the winning label's best (4-decimal) similarity.

    Retrieval reuses :func:`..similarity.cosine_topk` (broadcast
    queries, map-side similarity, per-query window top-k — the exact
    brute-force baseline; swap in ``ivf_topk``/``lsh_topk`` for the
    approximate scale path, the vote logic is retrieval-agnostic).
    The vote itself is one partial-agg groupBy over the Q×k neighbor
    table plus one per-query window — bounded by queries × k rows.
    """
    from .similarity import cosine_topk

    if k < 1:
        raise ValueError("k must be >= 1")
    nn = cosine_topk(queries, corpus, k=k, query_id=query_id,
                     corpus_id=corpus_id, vec_col=vec_col,
                     exclude_self=True)
    lab = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                        F.col(label_col).alias("_nl"))
    votes = (nn.join(lab, "neighbor_id")
             .groupBy(F.col("query_id").alias(query_id),
                      F.col("_nl").alias("predicted"))
             .agg(F.count(F.lit(1)).cast("long").alias("votes"),
                  (F.round(F.max("cosine") * 1e4) / 1e4
                   + F.lit(0.0)).alias("top_cosine")))
    w = Window.partitionBy(query_id).orderBy(F.desc("votes"),
                                             F.asc("predicted"))
    return (votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk"))


def centroid_classify(train: DataFrame, test: DataFrame,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      label_col: str = "label") -> DataFrame:
    """Nearest-class-centroid (Rocchio) classification: TRAINING IS ONE
    AGGREGATION — each class's centroid is the per-dimension mean of its
    training vectors — and prediction is an argmin over C centroids →
    ``(id, predicted, d2)`` with ``d2`` the squared L2 distance to the
    winning centroid (4 decimals), distance ties to the smallest label.

    The cheapest vector classifier and the sanity baseline for kNN:
    per-(label, dim) means via ``posexplode`` + groupBy (never the
    vectors to the driver), the C-row centroid table broadcast back,
    scoring as an in-plan fold (``Σc² − 2Σx·c`` + ``Σx²``) so the
    arithmetic replays EXACTLY in the SQL oracle — no numpy in the
    scoring path, unlike the IVF assign kernel, because here exactness
    is the contract and C is small.
    """
    cent = (train.filter(F.col(vec_col).isNotNull()
                         & F.col(label_col).isNotNull())
            .select(label_col, F.posexplode(vec_col).alias("_d", "_x"))
            .groupBy(label_col, "_d")
            .agg(F.avg(F.col("_x").cast("double")).alias("_m"))
            .groupBy(label_col)
            .agg(F.array_sort(F.collect_list(F.struct("_d", "_m")))
                 .alias("_s"))
            .select(F.col(label_col).alias("predicted"),
                    F.transform("_s", lambda s: s["_m"]).alias("_ce")))
    t = test.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    dot = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_ce"),
                   lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, v: acc + v)
    ce2 = F.aggregate("_ce", F.lit(0.0), lambda acc, v: acc + v * v)
    x2 = F.aggregate(
        F.transform("_v", lambda a: a.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v * v)
    w = Window.partitionBy("id").orderBy(F.asc("_rel"), F.asc("predicted"))
    return (t.crossJoin(F.broadcast(cent))
            .withColumn("_rel", ce2 - 2.0 * dot)
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(F.col("id"), "predicted",
                    (F.round((x2 + F.col("_rel")) * 1e4) / 1e4
                     + F.lit(0.0)).alias("d2")))
