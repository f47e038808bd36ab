"""Bigram LM training + perplexity scoring (operators/lm.py).

Beyond-reference: CCNet/KenLM-style corpus quality filtering."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.lm import perplexity, train_bigram_lm


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_train_counts(spark):
    uni, big = train_bigram_lm(_docs(spark, [(0, "a b a b"), (1, "b c")]))
    u = {r["w1"]: r["c1"] for r in uni.collect()}
    assert u == {"a": 2, "b": 3, "c": 1}
    b = {(r["w1"], r["w2"]): r["c2"] for r in big.collect()}
    assert b == {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}


def test_perplexity_known_values(spark):
    """Hand-computed smoothed conditionals on a 4-token training doc."""
    uni, big = train_bigram_lm(_docs(spark, [(0, "a b a b")]))
    scored = {r["doc_id"]: r for r in perplexity(
        _docs(spark, [(10, "a b"), (11, "b b"), (12, "z a")]),
        uni, big, add_k=0.5).collect()}
    # V=2, k=0.5: seen pair (a,b): ln((2+.5)/(2+1)); unseen (b,b):
    # ln((0+.5)/(2+1)); unseen history z: ln(.5/(0+1)) = ln(1/V)
    assert scored[10]["avg_logprob"] == pytest.approx(math.log(2.5 / 3.0))
    assert scored[11]["avg_logprob"] == pytest.approx(math.log(0.5 / 3.0))
    assert scored[12]["avg_logprob"] == pytest.approx(math.log(0.5))
    assert scored[10]["ppl"] == pytest.approx(3.0 / 2.5)
    # seen text scores strictly better than unseen
    assert scored[10]["ppl"] < scored[11]["ppl"]


def test_short_and_null_docs_keep_rows(spark):
    uni, big = train_bigram_lm(_docs(spark, [(0, "a b a b")]))
    out = {r["doc_id"]: r for r in perplexity(
        _docs(spark, [(1, "solo"), (2, ""), (3, None)]),
        uni, big).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert r["n_bigrams"] == 0
        assert r["avg_logprob"] is None and r["ppl"] is None


def test_duplication_equivalence_with_scaled_k(spark):
    """Doubling the training corpus doubles every count; scaling add_k by
    the same factor leaves every smoothed conditional unchanged (the same
    invariance shape the NB classifier property established)."""
    corpus = _docs(spark, [(0, "a b c a"), (1, "c a b")])
    doubled = corpus.union(corpus.withColumn("doc_id", F.col("doc_id") + 10))
    score_me = _docs(spark, [(20, "a b c"), (21, "b a z")])

    u1, b1 = train_bigram_lm(corpus)
    u2, b2 = train_bigram_lm(doubled)
    base = {r["doc_id"]: r["avg_logprob"]
            for r in perplexity(score_me, u1, b1, add_k=0.5).collect()}
    dup = {r["doc_id"]: r["avg_logprob"]
           for r in perplexity(score_me, u2, b2, add_k=1.0).collect()}
    for d in base:
        assert dup[d] == pytest.approx(base[d], rel=1e-12)


def test_in_distribution_scores_lower_ppl(spark):
    """A document drawn from the training distribution beats a shuffled
    out-of-vocabulary one."""
    train = _docs(spark, [(i, "the quick brown fox jumps over the lazy dog")
                          for i in range(5)])
    uni, big = train_bigram_lm(train)
    out = {r["doc_id"]: r["ppl"] for r in perplexity(
        _docs(spark, [(100, "the quick brown fox"),
                      (101, "dog fox zebra quantum")]),
        uni, big).collect()}
    assert out[100] < out[101]
