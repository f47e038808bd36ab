"""BM25 / TF-IDF retrieval: hand-computed scores on a tiny corpus plus
contract checks (determinism, stats reuse)."""

import math

import pytest

from bid_evaluation_ext.operators import retrieval as R


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
            (4, "unrelated words entirely"),
        ],
        "doc_id long, text string",
    )


def test_corpus_term_stats(docs):
    s = R.corpus_term_stats(docs, ["apple", "cherry", "missing"])
    assert s["n_docs"] == 4
    assert s["avgdl"] == pytest.approx((3 + 2 + 4 + 3) / 4)
    assert s["df"] == {"apple": 1, "cherry": 2, "missing": 0}


def _bm25(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_bm25_hand_computed(docs):
    r = {x["doc_id"]: x["bm25"] for x in R.bm25_scores(docs, ["apple"]).collect()}
    avgdl = 3.0
    assert r[1] == pytest.approx(_bm25(2, 1, 4, 3, avgdl))
    assert r[2] == 0.0 and r[4] == 0.0


def test_bm25_multi_term_sum(docs):
    one = {x["doc_id"]: x["bm25"]
           for x in R.bm25_scores(docs, ["banana"]).collect()}
    two = {x["doc_id"]: x["bm25"]
           for x in R.bm25_scores(docs, ["banana", "cherry"]).collect()}
    ch = {x["doc_id"]: x["bm25"]
          for x in R.bm25_scores(docs, ["cherry"]).collect()}
    for d in one:
        assert two[d] == pytest.approx(one[d] + ch[d])


def test_bm25_topk_order_and_tiebreak(docs):
    top = R.bm25_topk(docs, ["cherry"], k=3).collect()
    assert [r["doc_id"] for r in top[:2]] == [3, 2]  # tf 3 beats tf 1
    # zero scorers tie → doc_id ascending
    assert top[2]["doc_id"] == 1 and top[2]["bm25"] == 0.0


def test_bm25_stats_reuse(docs):
    s = R.corpus_term_stats(docs, ["apple"])
    a = R.bm25_scores(docs, ["apple"], stats=s).collect()
    b = R.bm25_scores(docs, ["apple"]).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_tfidf_hand_computed(docs):
    r = {x["doc_id"]: x["tfidf"]
         for x in R.tfidf_scores(docs, ["cherry"]).collect()}
    idf = math.log(4 / (1 + 2))
    assert r[3] == pytest.approx(math.log(1 + 3) * idf)
    assert r[1] == 0.0


def test_bm25_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert R.bm25_scores(df, ["x"]).count() == 0


class TestRRFFusion:
    """Reciprocal Rank Fusion (retrieval.py::rrf_fuse)."""

    def _lists(self, spark):
        a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                                  "doc_id long, rank long")
        b = spark.createDataFrame([(3, 1), (2, 2), (9, 3)],
                                  "doc_id long, rank long")
        return a, b

    def test_known_values(self, spark):
        from bid_evaluation_ext.operators.retrieval import rrf_fuse

        a, b = self._lists(spark)
        rows = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60).collect()}
        import pytest as _pt
        # doc 2 and doc 3 both appear in both lists
        assert rows[2]["rrf_score"] == _pt.approx(2 / 62.0)
        assert rows[3]["rrf_score"] == _pt.approx(1 / 63.0 + 1 / 61.0)
        assert rows[1]["rrf_score"] == _pt.approx(1 / 61.0)
        assert rows[2]["n_lists"] == 2 and rows[1]["n_lists"] == 1
        assert rows[3]["best_rank"] == 1

    def test_ordering_and_topn(self, spark):
        from bid_evaluation_ext.operators.retrieval import rrf_fuse

        a, b = self._lists(spark)
        out = rrf_fuse([a, b], k=60, top_n=2).collect()
        assert len(out) == 2
        # consensus docs (2, 3) beat single-list docs
        assert {r["doc_id"] for r in out} == {2, 3}
        scores = [r["rrf_score"] for r in out]
        assert scores == sorted(scores, reverse=True)

    def test_single_list_is_monotone(self, spark):
        from bid_evaluation_ext.operators.retrieval import rrf_fuse

        a, _ = self._lists(spark)
        out = rrf_fuse([a], k=10).collect()
        assert [r["doc_id"] for r in out] == [1, 2, 3]

    def test_validation(self, spark):
        from bid_evaluation_ext.operators.retrieval import rrf_fuse
        import pytest as _pt

        a, _ = self._lists(spark)
        with _pt.raises(ValueError):
            rrf_fuse([], k=60)
        with _pt.raises(ValueError):
            rrf_fuse([a], k=0)


class TestInvertedPostings:
    def test_positions_tf_and_min_df(self, spark):
        from bid_evaluation_ext.operators.retrieval import (
            inverted_postings)

        df = spark.createDataFrame(
            [(1, "the cat sat on the mat"), (2, "the dog"), (3, None)],
            "doc_id long, text string")
        out = {(r["term"], r["doc_id"]): r
               for r in inverted_postings(df).collect()}
        assert out[("the", 1)]["positions"] == [1, 5]
        assert out[("the", 1)]["tf"] == 2
        assert out[("cat", 1)]["positions"] == [2]
        assert out[("the", 2)]["tf"] == 1
        # min_df=2 keeps only 'the' (2 docs)
        from bid_evaluation_ext.operators.retrieval import (
            inverted_postings as ip)
        terms = {r["term"] for r in ip(df, min_df=2).collect()}
        assert terms == {"the"}
        import pytest as _pt
        with _pt.raises(ValueError):
            ip(df, min_df=0)

    def test_lowercases(self, spark):
        from bid_evaluation_ext.operators.retrieval import (
            inverted_postings)

        df = spark.createDataFrame([(1, "The THE the")],
                                   "doc_id long, text string")
        out = inverted_postings(df).collect()
        assert len(out) == 1 and out[0]["tf"] == 3


class TestPhraseSearch:
    def _hits(self, spark, docs, phrase):
        from bid_evaluation_ext.operators.retrieval import phrase_search

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {r["doc_id"]: r["n_matches"]
                for r in phrase_search(df, phrase).collect()}

    def test_counts_occurrences(self, spark):
        docs = [(1, "big cat big cat big"), (2, "big dog"),
                (3, "cat big"), (4, None)]
        assert self._hits(spark, docs, "big cat") == {1: 2}
        # doc 1 = "big cat big cat big": "cat big" at positions 2 AND 4
        assert self._hits(spark, docs, "cat big") == {1: 2, 3: 1}

    def test_overlapping_and_repeated_term_phrase(self, spark):
        docs = [(1, "a a a")]
        assert self._hits(spark, docs, "a a") == {1: 2}
        assert self._hits(spark, docs, "a a a") == {1: 1}

    def test_three_term_phrase_and_case(self, spark):
        docs = [(1, "The Quick Brown fox"), (2, "quick brown cow")]
        assert self._hits(spark, docs, "quick brown fox") == {1: 1}

    def test_absent_phrase_empty_and_validation(self, spark):
        docs = [(1, "x y z")]
        assert self._hits(spark, docs, "y x") == {}
        import pytest as _pt
        from bid_evaluation_ext.operators.retrieval import phrase_search
        df = spark.createDataFrame(docs, "doc_id long, text string")
        with _pt.raises(ValueError):
            phrase_search(df, "   ")
