"""Round-7 wave: winnowing fingerprints, corpus overlap, script profile,
MMR re-ranking."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_winnow_coverage_theorem_and_edges(spark):
    """Any shared token run of k+w-1 yields >= 1 shared fingerprint
    (Schleimer et al. guarantee); short docs degrade gracefully."""
    from bid_evaluation_ext.operators.text import winnow_fingerprints

    rows = [(1, "a b c d e f g h"),
            (2, "x y a b c d e f"),       # shares run "a b c d e f" (k+w-1=6)
            (3, "a b"),                    # < k tokens -> []
            (4, "p q r"),                  # exactly k tokens -> 1 gram
            (5, ""), (6, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["w"] for r in
           df.select("doc_id", winnow_fingerprints(F.col("text"), k=3, w=4)
                     .alias("w")).collect()}
    assert set(out[1]) & set(out[2]), "winnowing coverage theorem violated"
    assert out[3] == [] and out[5] == [] and out[6] == []
    assert len(out[4]) == 1  # single gram -> its hash is the fingerprint
    # density: ~2/(w+1) of grams selected, always >= 1 for >= k tokens
    assert 1 <= len(out[1]) <= 6
    with pytest.raises(ValueError):
        df.select(winnow_fingerprints(F.col("text"), k=0))


def test_corpus_overlap_counts_and_containment(spark):
    from bid_evaluation_ext.operators.dedup import corpus_overlap

    a = spark.createDataFrame([(1, "a b c d e"), (2, "f g h i")],
                              "doc_id long, text string")
    b = spark.createDataFrame([(1, "a b c d"), (2, "z z z z")],
                              "doc_id long, text string")
    r = corpus_overlap(a, b, k=3).collect()[0]
    # a: {abc,bcd,cde,fgh,ghi}; b: {abc,bcd,zzz}; common: {abc,bcd}
    assert (r["shingles_a"], r["shingles_b"], r["shingles_common"]) == (5, 3, 2)
    assert r["jaccard"] == pytest.approx(2 / 6, abs=1e-4)
    assert r["containment_a_in_b"] == pytest.approx(2 / 5, abs=1e-4)
    assert r["containment_b_in_a"] == pytest.approx(2 / 3, abs=1e-4)
    # disjoint corpora
    c = spark.createDataFrame([(9, "q r s t")], "doc_id long, text string")
    r2 = corpus_overlap(a, c, k=3).collect()[0]
    assert r2["shingles_common"] == 0 and r2["jaccard"] == 0.0
    with pytest.raises(ValueError):
        corpus_overlap(a, b, k=0)


def test_script_profile_classes_and_dominant(spark):
    from bid_evaluation_ext.operators.text import script_profile

    rows = [(1, "hello world 123"), (2, "Привет мир"), (3, "你好世界"),
            (4, "!!! ???"), (5, None), (6, "abc абв")]  # latin/cyr tie -> latin
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert out[1]["dominant_script"] == "latin" and out[1]["n_digit"] == 3
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[3]["dominant_script"] == "cjk" and out[3]["n_cjk"] == 4
    assert out[4]["dominant_script"] == "other"
    assert out[5]["dominant_script"] == "other" and out[5]["n_other"] is None
    # declaration-order tie: 3 latin vs 3 cyrillic -> latin (first maximal)
    assert out[6]["n_latin"] == 3 and out[6]["n_cyrillic"] == 3
    assert out[6]["dominant_script"] == "latin"
    # counts partition the text
    r = out[1]
    known = sum(r[f"n_{c}"] for c in ("latin", "digit", "cyrillic", "greek",
                                      "arabic", "hebrew", "devanagari",
                                      "cjk"))
    assert known + r["n_other"] == r["n_chars"]


def test_mmr_diversifies_and_bounds(spark):
    from bid_evaluation_ext.operators.retrieval import mmr_rerank

    cands = [
        (1, 10, 0.95, [1.0, 0.0, 0.0]),
        (1, 11, 0.94, [0.999, 0.01, 0.0]),   # near-dup of 10
        (1, 12, 0.80, [0.0, 1.0, 0.0]),      # diverse
        (1, 13, 0.70, [0.0, 0.0, 1.0]),      # diverse
        (2, 20, 0.50, [1.0, 1.0, 0.0]),      # lone candidate
    ]
    df = spark.createDataFrame(
        cands, "query_id long, doc_id long, rel double, "
               "embedding array<double>")
    out = mmr_rerank(df, select_k=3, lam=0.5).orderBy(
        "query_id", "rank").collect()
    got = [(r["query_id"], r["rank"], r["doc_id"]) for r in out]
    # rank 1 = max relevance; the near-duplicate is pushed below the
    # diverse candidates; short queries emit what they have
    assert got == [(1, 1, 10), (1, 2, 12), (1, 3, 13), (2, 1, 20)]

    # lam=1 degenerates to pure relevance ranking
    pure = mmr_rerank(df.filter(F.col("query_id") == 1), select_k=3,
                      lam=1.0).orderBy("rank").collect()
    assert [r["doc_id"] for r in pure] == [10, 11, 12]

    with pytest.raises(ValueError):
        mmr_rerank(df, select_k=0)
    with pytest.raises(ValueError):
        mmr_rerank(df, lam=1.5)


def test_mmr_deep_select_k_stays_tractable(spark):
    # per-round localCheckpoint truncates lineage; before it, plan size
    # grew ~exponentially in select_k and k=10 was effectively unrunnable
    from bid_evaluation_ext.operators.retrieval import mmr_rerank

    rows = [(1, i, 1.0 - i * 0.01,
             [float(i % 4 == j) for j in range(4)]) for i in range(12)]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, rel double, "
              "embedding array<double>")
    out = mmr_rerank(df, select_k=10, lam=0.5).collect()
    assert len(out) == 10
    assert sorted({r["rank"] for r in out}) == list(range(1, 11))


def test_lsh_recall_report_counts(spark):
    from bid_evaluation_ext.operators.dedup import lsh_recall_report

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"),   # J = 5/7 >= 0.5
         (3, "x y z w v u"), (4, "p q r s t")],
        "doc_id long, text string")
    # candidate generator caught (1,2) and also proposed a junk pair
    cand = spark.createDataFrame([(1, 2), (3, 4)], "a_id long, b_id long")
    r = lsh_recall_report(cand, docs, threshold=0.5).collect()[0]
    assert (r["n_true"], r["n_candidates"], r["n_hit"]) == (1, 2, 1)
    assert r["recall"] == 1.0 and r["precision"] == 0.5

    # a generator that MISSES the true pair
    miss = spark.createDataFrame([(3, 4)], "a_id long, b_id long")
    r2 = lsh_recall_report(miss, docs, threshold=0.5).collect()[0]
    assert r2["recall"] == 0.0 and r2["n_hit"] == 0

    # block-bounded truth: pair split across blocks is not counted
    blocked = docs.withColumn("blk", (docs.doc_id % 2).cast("int"))
    r3 = lsh_recall_report(cand, blocked, threshold=0.5,
                           truth_block_col="blk").collect()[0]
    assert r3["n_true"] == 0 and r3["recall"] is None

    import pytest as _p
    with _p.raises(ValueError):
        lsh_recall_report(cand, docs, threshold=0.0)

    # unblocked path refuses an accidental corpus-scale all-pairs join
    with _p.raises(ValueError, match="all-pairs"):
        lsh_recall_report(cand, docs, threshold=0.5,
                          allow_quadratic_docs=3)
    # ...unless the caller raises the ceiling explicitly
    ok = lsh_recall_report(cand, docs, threshold=0.5,
                           allow_quadratic_docs=4).collect()[0]
    assert ok["n_true"] == 1
    # the blocked path needs no ceiling: truth is bounded by blocks
    r4 = lsh_recall_report(cand, blocked, threshold=0.5,
                           truth_block_col="blk",
                           allow_quadratic_docs=1).collect()[0]
    assert r4["n_true"] == 0


def test_token_entropy_values_and_edges(spark):
    import math as _m

    from bid_evaluation_ext.operators.text import token_entropy

    docs = spark.createDataFrame(
        [(1, "a a a a"),          # constant -> H = 0, norm null (1 distinct)
         (2, "a b a b"),          # uniform 2 -> H = ln 2, norm 1
         (3, "a a a b"),          # H = ln4 - (3 ln3)/4
         (4, ""), (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["entropy_norm"] is None
    assert out[2]["entropy"] == __import__("pytest").approx(_m.log(2),
                                                            abs=1e-9)
    assert out[2]["entropy_norm"] == __import__("pytest").approx(1.0,
                                                                 abs=1e-9)
    assert out[3]["entropy"] == __import__("pytest").approx(
        _m.log(4) - 3 * _m.log(3) / 4, abs=1e-9)
    assert out[4]["n_tokens"] == 0 and out[4]["entropy"] is None
    assert out[5]["n_tokens"] == 0 and out[5]["entropy"] is None


def test_winnow_candidate_pairs_cap_and_threshold(spark):
    from bid_evaluation_ext.operators.text import winnow_candidate_pairs

    # docs 1,2 share a long run (many shared fingerprints); 3 is disjoint
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i k"),
         (3, "p q r s t u v w")],
        "doc_id long, text string")
    out = {(r["a_id"], r["b_id"]): r["n_shared"] for r in
           winnow_candidate_pairs(docs, min_shared=1).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 1
    assert all(3 not in p for p in out)

    # boilerplate cap: a fingerprint in EVERY doc is dropped, so three
    # docs that share ONLY the common phrase produce no pairs
    boiler = spark.createDataFrame(
        [(i, f"common header phrase one two six {i} unique{i} "
             f"tail{i} more{i}") for i in range(3)],
        "doc_id long, text string")
    capped = winnow_candidate_pairs(boiler, min_shared=1,
                                    max_doc_freq=2).collect()
    uncapped = winnow_candidate_pairs(boiler, min_shared=1,
                                      max_doc_freq=1000).collect()
    assert len(capped) < len(uncapped) or len(uncapped) == 0

    import pytest as _p
    with _p.raises(ValueError):
        winnow_candidate_pairs(docs, min_shared=0)
    with _p.raises(ValueError):
        winnow_candidate_pairs(docs, max_doc_freq=1)
