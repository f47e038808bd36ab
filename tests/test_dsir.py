"""DSIR importance weighting + Gumbel resampling (operators/dsir.py).

Beyond-reference: data selection for pretraining mixtures
(arXiv:2302.03169)."""

from __future__ import annotations

import pytest

from bid_evaluation_ext.operators.dsir import (
    bucket_counts,
    dsir_logweights,
    dsir_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpora(spark):
    """Raw corpus mixing two sub-distributions; target matches one."""
    target = _docs(spark, [(100 + i, "alpha beta gamma alpha beta")
                           for i in range(4)])
    raw = _docs(spark, [(0, "alpha beta gamma beta"),
                        (1, "alpha beta alpha gamma"),
                        (2, "zebra quark xylo zebra"),
                        (3, "quark zebra xylo quark"),
                        (4, "")])
    return raw, target


def test_target_like_docs_weigh_higher(spark):
    raw, target = _corpora(spark)
    w = {r["doc_id"]: r["log_weight"]
         for r in dsir_logweights(raw, target, buckets=512).collect()}
    assert min(w[0], w[1]) > max(w[2], w[3])
    # feature-free doc keeps its row at exactly 0.0
    assert w[4] == 0.0


def test_identical_corpora_zero_weights(spark):
    """raw == target ⇒ every bucket ratio is exactly ln(x) − ln(x) = 0."""
    raw, _ = _corpora(spark)
    both = raw.filter("text <> ''")
    w = dsir_logweights(both, both, buckets=256).collect()
    assert all(r["log_weight"] == 0.0 for r in w)


def test_bucket_counts_bounded_and_bagged(spark):
    df = _docs(spark, [(0, "a a b")])
    rows = bucket_counts(df, ns=(1,), buckets=64).collect()
    assert sum(r["cnt"] for r in rows) == 3  # bag semantics: dup kept
    assert all(0 <= r["bucket"] < 64 for r in rows)


def test_sample_deterministic_and_biased(spark):
    raw, target = _corpora(spark)
    s1 = [r["doc_id"] for r in dsir_sample(raw, target, k=2,
                                           buckets=512).collect()]
    s2 = [r["doc_id"] for r in dsir_sample(raw, target, k=2,
                                           buckets=512).collect()]
    assert s1 == s2
    # the two target-like docs dominate a k=2 cut on this wide margin
    assert set(s1) <= {0, 1, 4}


def test_sample_edge_cases(spark):
    raw, target = _corpora(spark)
    assert dsir_sample(raw, target, k=0).count() == 0
    assert dsir_sample(raw, target, k=99).count() == raw.count()
    with pytest.raises(ValueError):
        dsir_sample(raw, target, k=-1)
    with pytest.raises(ValueError):
        dsir_logweights(raw, target, buckets=1)


def test_fused_proxy_matches_unfused_shape(spark):
    # r13: the persisted (id, bucket) proxy + cross-joined totals must be
    # bit-identical to the r12 unfused shape (same per-occurrence sum)
    from pyspark.sql import functions as F

    from bid_evaluation_ext.operators.cache import release_all
    from bid_evaluation_ext.operators.dsir import (bucket_counts,
                                                     hashed_ngram_buckets)
    raw, target = _corpora(spark)
    buckets, k = 256, 0.5
    got = sorted(map(tuple, dsir_logweights(raw, target, buckets=buckets)
                     .collect()))
    release_all()
    # reference: the unfused r12 shape, inline
    t_counts = bucket_counts(target, "text", (1, 2), buckets, "dsir")
    r_counts = bucket_counts(raw, "text", (1, 2), buckets, "dsir")
    tt = t_counts.agg(F.sum("cnt")).collect()[0][0] or 0
    tr = r_counts.agg(F.sum("cnt")).collect()[0][0] or 0
    ratio = (t_counts.withColumnRenamed("cnt", "t_cnt")
             .join(r_counts.withColumnRenamed("cnt", "r_cnt"),
                   ["bucket"], "full_outer")
             .select("bucket",
                     (F.log((F.coalesce(F.col("t_cnt"), F.lit(0))
                             + F.lit(k)) / F.lit(float(tt) + k * buckets))
                      - F.log((F.coalesce(F.col("r_cnt"), F.lit(0))
                               + F.lit(k))
                              / F.lit(float(tr) + k * buckets))
                      ).alias("log_ratio")))
    feats = raw.select(
        F.col("doc_id"),
        F.explode(hashed_ngram_buckets(F.col("text"), (1, 2), buckets,
                                       "dsir")).alias("bucket"))
    per_doc = (feats.join(ratio, ["bucket"]).groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_features"),
                    F.sum("log_ratio").alias("log_weight")))
    want = sorted(map(tuple,
                      raw.select("doc_id").join(per_doc, ["doc_id"], "left")
                      .select("doc_id",
                              F.coalesce(F.col("n_features"), F.lit(0))
                              .alias("n_features"),
                              F.coalesce(F.col("log_weight"), F.lit(0.0))
                              .alias("log_weight")).collect()))
    assert [(d, n, round(w, 10)) for d, n, w in got] == \
        [(d, n, round(w, 10)) for d, n, w in want]
