"""Distributed BPE training: parity with a pure-python reference, greedy
segmentation round-trip, determinism, and early stop."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.bpe import (
    EOW,
    bpe_segment,
    bpe_token_count,
    bpe_train,
    word_frequencies,
)


def _py_bpe_train(texts, n_merges, min_count=2):
    """Reference implementation: same tie-break (count desc, pair asc)."""
    freq = {}
    for t in texts:
        for w in t.lower().split():
            freq[w] = freq.get(w, 0) + 1
    syms = {w: list(w) + [EOW] for w in freq}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, seq in syms.items():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq[w]
        counts = {p: c for p, c in counts.items() if c >= min_count}
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        l, r = best
        for w, seq in syms.items():
            res, i = [], 0
            while i < len(seq):
                if i < len(seq) - 1 and seq[i] == l and seq[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(seq[i])
                    i += 1
            syms[w] = res
    return merges


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest low newer",
    "the low road and the new road",
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame([(t,) for t in TEXTS], "text string")


def test_train_matches_python_reference(corpus):
    want = _py_bpe_train(TEXTS, n_merges=12)
    got = bpe_train(corpus, n_merges=12)
    assert got == want
    assert len(got) == 12


def test_train_local_matches_distributed(corpus, monkeypatch):
    """r12 opt: the driver-local merge loop (default below the word cap)
    must produce the identical merge list as the distributed rounds —
    same weighted counts, same (c desc, l asc, r asc) tie-breaks."""
    local = bpe_train(corpus, n_merges=12)
    monkeypatch.setenv("SPARK_GRAFT_BPE_LOCAL_MAX_WORDS", "0")
    dist = bpe_train(corpus, n_merges=12)
    assert local == dist


def test_word_frequencies(corpus):
    wf = {r["word"]: r["n"] for r in word_frequencies(corpus).collect()}
    assert wf["low"] == 5 and wf["newer"] == 3 and wf["the"] == 2


def test_segment_round_trip(corpus, spark):
    merges = bpe_train(corpus, n_merges=10)
    df = spark.createDataFrame(
        [("Low lower NEWest road",), (None,), ("",)], "text string")
    rows = df.select(bpe_segment(F.col("text"), merges).alias("t")).collect()
    toks = rows[0]["t"]
    # tokens reconstruct the normalized text exactly
    assert "".join(toks).replace(EOW, " ").strip() == "low lower newest road"
    assert rows[1]["t"] == [] and rows[2]["t"] == []


def test_token_count_shrinks_with_merges(corpus, spark):
    df = spark.createDataFrame([("low lower lowest",)], "text string")
    n0 = df.select(bpe_token_count(F.col("text"), []).alias("n")).head()["n"]
    merges = bpe_train(corpus, n_merges=12)
    n1 = df.select(bpe_token_count(F.col("text"), merges).alias("n")).head()["n"]
    assert n0 == len("lowlowerlowest") + 3  # chars + one EOW per word
    assert n1 < n0


def test_early_stop_when_below_min_count(spark):
    tiny = spark.createDataFrame([("a b",)], "text string")
    # every pair occurs once < min_count=2 → no merges at all
    assert bpe_train(tiny, n_merges=5, min_count=2) == []


def test_train_reuses_precomputed_word_freq(corpus):
    wf = word_frequencies(corpus)
    a = bpe_train(corpus, n_merges=6)
    b = bpe_train(corpus, n_merges=6, word_freq=wf)
    assert a == b
