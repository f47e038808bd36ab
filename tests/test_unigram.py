"""Unigram-LM tokenizer: lattice math, EM convergence on a planted
corpus, fixed-point determinism across partitionings, Viterbi ties."""

from __future__ import annotations

import math

import pytest

from bid_evaluation_ext.operators.unigram import (
    _forward_backward,
    unigram_token_stats,
    unigram_train,
    viterbi_segment,
)


def test_forward_backward_two_path_lattice():
    # "ab" with vocab {a,b,ab}: paths a·b and ab; uniform logprobs
    lp = {p: math.log(1 / 3) for p in ("a", "b", "ab")}
    ec = _forward_backward("ab", lp, 2)
    # P(a·b) = (1/9) vs P(ab) = 1/3 → posterior 1/4 vs 3/4
    assert abs(ec["ab"] - 0.75) < 1e-12
    assert abs(ec["a"] - 0.25) < 1e-12 and abs(ec["b"] - 0.25) < 1e-12
    # unsegmentable word contributes nothing
    assert _forward_backward("xyz", lp, 2) == {}


def test_viterbi_prefers_probable_pieces_and_fallback():
    lp = {"a": math.log(0.1), "b": math.log(0.1), "ab": math.log(0.5)}
    assert viterbi_segment("ab", lp) == ["ab"]
    assert viterbi_segment("aab", lp) == ["a", "ab"]
    # novel char falls back to a single-char floor token
    assert viterbi_segment("axb", lp) == ["a", "x", "b"]
    # equal-probability tie → fewer tokens wins
    lp2 = {"a": math.log(0.25), "aa": math.log(0.0625)}
    assert viterbi_segment("aa", lp2) == ["aa"]


@pytest.fixture(scope="module")
def planted(spark):
    # a corpus whose words are built from two strong morphemes: the
    # EM must allocate high probability to 'ing' and 'pre'
    words = (["preparing"] * 8 + ["prefix"] * 9 + ["singing"] * 7
             + ["coding"] * 9 + ["premise"] * 6 + ["winning"] * 5)
    rows = [(i, " ".join(words[i::3])) for i in range(3)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_em_learns_planted_morphemes(planted):
    vocab = unigram_train(planted, vocab_size=40, n_iters=3,
                          max_piece_len=3, seed_size=120)
    lp = dict(vocab)
    assert "ing" in lp and "pre" in lp
    # morphemes beat their own fragments
    assert lp["ing"] > lp.get("in", -99) and lp["pre"] > lp.get("pr", -99)
    # normalized: total prob ~1
    assert abs(sum(math.exp(v) for v in lp.values()) - 1.0) < 1e-9


def test_training_is_partition_order_independent(planted):
    v1 = unigram_train(planted, vocab_size=40, n_iters=2,
                       max_piece_len=3, seed_size=120)
    v2 = unigram_train(planted.repartition(7), vocab_size=40, n_iters=2,
                       max_piece_len=3, seed_size=120)
    v3 = unigram_train(planted.coalesce(1), vocab_size=40, n_iters=2,
                       max_piece_len=3, seed_size=120)
    assert v1 == v2 == v3                 # bit-identical, not approx


def test_token_stats_kernel(planted, spark):
    vocab = unigram_train(planted, vocab_size=40, n_iters=2,
                          max_piece_len=3, seed_size=120)
    df = spark.createDataFrame(
        [(0, "preparing coding"), (1, "zzz!"), (2, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in unigram_token_stats(df, vocab).collect()}
    assert got[0]["n_words"] == 2
    assert 2 <= got[0]["n_tokens"] <= 8   # morphemes compress
    assert got[1]["n_words"] == 1 and got[1]["n_char_fallbacks"] >= 0
    assert got[2]["n_words"] == 0 and got[2]["n_tokens"] == 0


def test_driver_vocab_cap_guards_collects(planted):
    from bid_evaluation_ext.operators.unigram import unigram_train
    # the planted corpus has ~15 distinct chars + multi-char pieces:
    # a cap of 10 must trip on the seed vocabulary, not melt the driver
    with pytest.raises(ValueError, match="driver_vocab_cap"):
        unigram_train(planted, vocab_size=20, n_iters=1,
                      driver_vocab_cap=10)
    # a generous cap trains normally
    vocab = unigram_train(planted, vocab_size=20, n_iters=1,
                          driver_vocab_cap=10_000)
    assert len(vocab) >= 10


def test_local_train_matches_distributed(planted, spark, monkeypatch):
    """r12 opt: below SPARK_GRAFT_UNIGRAM_LOCAL_MAX_WORDS the whole EM
    runs on the driver; the learned vocab must be BIT-identical to the
    distributed rounds — including the seed's short-word substring edge
    cases (sequence-through-zero positions)."""
    import os

    short = spark.createDataFrame(
        [(0, "a ab abc a ab xyzq q"), (1, "ab a zz q xyzq")],
        "doc_id long, text string")
    for df in (planted, short):
        monkeypatch.setenv("SPARK_GRAFT_UNIGRAM_LOCAL_MAX_WORDS", "10000")
        local = unigram_train(df, vocab_size=30, n_iters=3,
                              max_piece_len=4, seed_size=120)
        monkeypatch.setenv("SPARK_GRAFT_UNIGRAM_LOCAL_MAX_WORDS", "0")
        dist = unigram_train(df, vocab_size=30, n_iters=3,
                             max_piece_len=4, seed_size=120)
        assert local == dist              # bit-identical, not approx


def test_seed_vocab_local_matches_sql(planted, spark, monkeypatch):
    from bid_evaluation_ext.operators.unigram import (
        _seed_vocab_local, _words, seed_vocab)

    short = spark.createDataFrame(
        [(0, "a ab abc xy zzz q a ab")], "doc_id long, text string")
    for df in (planted, short):
        words = _words(df, "text")
        rows = [(str(r["word"]), int(r["cnt"])) for r in words.collect()]
        for mpl in (2, 3, 4, 6):
            assert (_seed_vocab_local(rows, 50, mpl)
                    == seed_vocab(words, seed_size=50,
                                  max_piece_len=mpl))
