"""Margin-based bitext mining over two embedding collections.

Beyond-reference operator: the parallel-corpus mining step of multilingual
pipeline construction (the CCMatrix/LASER ratio-margin method, public
literature: Artetxe & Schwenk's margin-based mining). Raw cosine is a bad
mate-picker — hubness vectors are close to EVERYTHING — so each candidate
pair's cosine is normalized by the average similarity of both endpoints'
k-nearest neighborhoods:

    margin(x, y) = cos(x, y) / ((avgk_fwd(x) + avgk_bwd(y)) / 2)

Pairs are mined from the union of forward (src→tgt) and backward
(tgt→src) top-k candidates; each source keeps its best-margin target, and
``mutual=True`` additionally requires the pair to be the target's best
source — the high-precision setting.

Scale shape: everything reduces to two :func:`
~bid_evaluation_ext.operators.similarity.cosine_topk` passes (broadcast
query batches, map-side similarities, per-vector top-k windows — swap in
``ivf_topk`` candidates at corpus scale), two k-row-per-vector averages,
and equi-joins on vector ids. Margins compare ROUNDED to 1e-6 in the
argmax (they are ratios of float sums — raw doubles would flip near-ties
across engines; same lesson as the NB argmax).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .similarity import cosine_topk

__all__ = ["mine_bitext"]


def mine_bitext(src: DataFrame, tgt: DataFrame, k: int = 4,
                src_id: str = "vec_id", tgt_id: str = "vec_id",
                vec_col: str = "embedding",
                mutual: bool = True) -> DataFrame:
    """Mine aligned pairs → ``(src_id, tgt_id, cosine, margin)``.

    One row per source vector at most (its best-margin candidate);
    ``mutual=True`` keeps only pairs that are ALSO the target's best
    source. ``k`` sizes the neighborhoods for both candidates and the
    margin denominators.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    fwd = cosine_topk(src, tgt, k=k, query_id=src_id, corpus_id=tgt_id,
                      vec_col=vec_col, exclude_self=False)
    bwd = cosine_topk(tgt, src, k=k, query_id=tgt_id, corpus_id=src_id,
                      vec_col=vec_col, exclude_self=False)

    favg = fwd.groupBy(F.col("query_id").alias("_sid")).agg(
        F.avg("cosine").alias("_fa"))
    bavg = bwd.groupBy(F.col("query_id").alias("_tid")).agg(
        F.avg("cosine").alias("_ba"))

    pairs = (fwd.select(F.col("query_id").alias("_sid"),
                        F.col("neighbor_id").alias("_tid"), "cosine")
             .union(bwd.select(F.col("neighbor_id").alias("_sid"),
                               F.col("query_id").alias("_tid"), "cosine"))
             .groupBy("_sid", "_tid").agg(F.first("cosine").alias("cosine")))

    scored = (pairs.join(favg, on="_sid").join(bavg, on="_tid")
              .withColumn("margin",
                          F.col("cosine")
                          / ((F.col("_fa") + F.col("_ba")) / F.lit(2.0))))
    rmargin = F.round(F.col("margin") * 1e6) / 1e6
    ws = Window.partitionBy("_sid").orderBy(rmargin.desc(), F.asc("_tid"))
    best = (scored.withColumn("_rs", F.row_number().over(ws))
            .filter(F.col("_rs") == 1))
    if mutual:
        wt = Window.partitionBy("_tid").orderBy(rmargin.desc(), F.asc("_sid"))
        best_t = (scored.withColumn("_rt", F.row_number().over(wt))
                  .filter(F.col("_rt") == 1)
                  .select("_sid", "_tid"))
        best = best.join(best_t, on=["_sid", "_tid"], how="left_semi")
    return best.select(F.col("_sid").alias("src_id"),
                       F.col("_tid").alias("tgt_id"), "cosine", "margin")
