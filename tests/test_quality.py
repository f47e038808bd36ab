"""Gopher/C4 quality operators: repetition stats, heuristic gate, and
cross-corpus line dedup — semantics on small controlled corpora."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators import quality as Q


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "spam spam spam spam"),                     # one word repeated
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "go stop go stop go stop"),                  # repeated bigram
            (4, ""),                                         # empty
            (5, "xy"),                                       # 1 token
        ],
        "doc_id long, text string",
    )


def by_id(df, key="doc_id"):
    return {r[key]: r.asDict() for r in df.collect()}


# --- ngram_repetition_stats ---

def test_repetition_most_common_word(docs):
    r = by_id(Q.ngram_repetition_stats(docs, ns=(1,)))
    # doc 1: 'spam' x4 covers all 16 gram chars
    assert r[1]["top1_fraction"] == pytest.approx(1.0)
    assert r[1]["dup1_fraction"] == pytest.approx(1.0)
    # doc 2: all words distinct
    assert r[2]["dup1_fraction"] == 0.0
    assert 0 < r[2]["top1_fraction"] < 0.2
    # empty doc restored with zeros
    assert r[4]["top1_fraction"] == 0.0 and r[4]["dup1_fraction"] == 0.0


def test_repetition_bigrams(docs):
    r = by_id(Q.ngram_repetition_stats(docs, ns=(2,)))
    # doc 3 bigrams: 'go stop' x3, 'stop go' x2 — top covers 3*7=21 of 35
    assert r[3]["top2_fraction"] == pytest.approx(21 / 35)
    assert r[3]["dup2_fraction"] == pytest.approx(1.0)
    # doc 5: shorter than 2 tokens → zeros, but still present
    assert r[5]["top2_fraction"] == 0.0


def test_repetition_deterministic_tiebreak(spark):
    # 'aa bb aa bb': bigrams 'aa bb' x2? tokens: aa bb aa bb →
    # grams: 'aa bb','bb aa','aa bb' → top = ('aa bb', 2)
    df = spark.createDataFrame([(1, "aa bb aa bb")], "doc_id long, text string")
    r = by_id(Q.ngram_repetition_stats(df, ns=(2,)))
    assert r[1]["top2_fraction"] == pytest.approx(2 * 5 / 15)
    assert r[1]["dup2_fraction"] == pytest.approx(10 / 15)


def test_repetition_kernel_matches_agg_engine(spark):
    # Messy corpus: duplicate ids (grams POOL per id), null id (0.0 via
    # the agg engine's join miss), empty/whitespace/unicode text, ties,
    # single-token docs — the kernel must match the distributed engine
    # row-for-row, bit-for-bit.
    rows = [
        (1, "spam spam spam spam"),
        (1, "spam eggs"),                      # pools with the row above
        (2, "the quick brown fox the quick"),
        (None, "ghost ghost ghost"),           # null id → zeros
        (None, "other ghost"),
        (3, ""),
        (3, "   "),
        (4, "xy"),
        (5, "aa bb aa bb"),
        (6, "héllo wörld héllo wörld héllo"),  # non-ASCII lengths
        (7, "b a b a a b"),                    # tie-break on gram string
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kern = Q.ngram_repetition_stats(df, ns=(1, 2, 3)).collect()
    agg = Q.ngram_repetition_stats(df, ns=(1, 2, 3), engine="agg").collect()
    key = lambda r: (r["doc_id"] is None, r["doc_id"] or 0)
    for a, b in zip(sorted(kern, key=key), sorted(agg, key=key)):
        assert a.asDict() == b.asDict()
    assert len(kern) == len(rows)
    with pytest.raises(ValueError):
        Q.ngram_repetition_stats(df, engine="nope")


def test_repetition_multiple_ns_match_single(docs):
    both = by_id(Q.ngram_repetition_stats(docs, ns=(1, 2)))
    only1 = by_id(Q.ngram_repetition_stats(docs, ns=(1,)))
    only2 = by_id(Q.ngram_repetition_stats(docs, ns=(2,)))
    for d in both:
        assert both[d]["top1_fraction"] == pytest.approx(only1[d]["top1_fraction"])
        assert both[d]["dup2_fraction"] == pytest.approx(only2[d]["dup2_fraction"])


# --- gopher_quality_flags ---

def test_gopher_flags(spark):
    good = "the cat and the dog have gone to the house of friends with " + \
           "plenty more ordinary words here " * 2
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "short text only"),                       # too few words
            (3, "### ### " + good),                       # symbols
            (4, "12 34 56 78 " * 20),                     # no alpha words
        ],
        "doc_id long, text string",
    )
    r = by_id(Q.gopher_quality_flags(df, min_words=20))
    assert r[1]["gopher_pass"] is True
    assert r[2]["pass_word_count"] is False
    assert r[3]["pass_symbol_ratio"] is False
    assert r[4]["pass_alpha_words"] is False and r[4]["pass_stopwords"] is False


def test_gopher_empty_doc(spark):
    df = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    r = by_id(Q.gopher_quality_flags(df))
    for d in (1, 2):
        assert r[d]["n_words"] == 0
        assert r[d]["gopher_pass"] is False
        assert r[d]["mean_word_len"] == 0.0


# --- line dedup ---

@pytest.fixture
def lined(spark):
    return spark.createDataFrame(
        [
            (1, "unique one\ncommon line\nunique two"),
            (2, "common line\nanother unique"),
            (3, "common line"),
            (4, "solo doc"),
        ],
        "doc_id long, text string",
    )


def test_dedup_lines_keep_first(lined):
    r = by_id(Q.dedup_lines(lined))
    # 'common line' appears 3x → kept only at its first (doc 1, pos 1)
    assert r[1]["text"] == "unique one\ncommon line\nunique two"
    assert r[2]["text"] == "another unique" and r[2]["n_removed"] == 1
    assert r[3]["text"] == "" and r[3]["n_removed"] == 1
    assert r[4]["text"] == "solo doc" and r[4]["n_removed"] == 0


def test_dedup_lines_drop_all(lined):
    r = by_id(Q.dedup_lines(lined, policy="drop_all"))
    assert r[1]["text"] == "unique one\nunique two"
    assert r[3]["text"] == "" and r[3]["n_lines"] == 1


def test_dedup_lines_max_occurrences(lined):
    # allow up to 3 occurrences: nothing removed
    r = by_id(Q.dedup_lines(lined, max_occurrences=3))
    assert all(v["n_removed"] == 0 for v in r.values())


def test_dedup_lines_within_doc_repeat(spark):
    df = spark.createDataFrame([(1, "x\nx\ny")], "doc_id long, text string")
    r = by_id(Q.dedup_lines(df))
    # within-doc repeats count toward the corpus limit too
    assert r[1]["text"] == "x\ny" and r[1]["n_removed"] == 1


def test_drop_repeated_lines_bad_policy(lined):
    with pytest.raises(ValueError):
        Q.dedup_lines(lined, policy="nope")


def test_quality_scorecard_rollup(spark):
    from bid_evaluation_ext.operators.quality import quality_scorecard
    from bid_evaluation_ext.operators.text import quality_score
    from pyspark.sql import functions as F

    rows = [("s1", "the quick brown fox jumps over the lazy dog and runs"),
            ("s1", "a a a a a"),
            ("s2", "x")]
    df = spark.createDataFrame(rows, "src string, text string")
    per_doc = df.select("src",
                        quality_score("text").alias("q")).collect()
    out = {r["group"]: r for r in
           quality_scorecard(df, "src", threshold=30.0).collect()}
    import statistics
    s1_qs = sorted(r["q"] for r in per_doc if r["src"] == "s1")
    import pytest as _p
    assert out["s1"]["n_docs"] == 2
    assert out["s1"]["mean_q"] == _p.approx(sum(s1_qs) / 2, abs=1e-3)
    assert out["s1"]["p50_q"] == _p.approx(statistics.median(s1_qs),
                                           abs=1e-3)
    assert 0.0 <= out["s1"]["pass_rate"] <= 1.0
    assert out["s2"]["n_docs"] == 1
