"""Incremental cross-corpus dedup and canonical content identity."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.dedup import dedup_against_corpus
from bid_evaluation_ext.operators.text import (
    canonical_fingerprint_md5,
    canonicalize,
)


def test_canonicalize_forms(spark):
    df = spark.createDataFrame(
        [("  Hello,   WORLD!! ",), ("hello world",), ("HELLO-WORLD",),
         ("unrelated",), ("",)],
        "text string")
    got = [r["c"] for r in
           df.select(canonicalize(F.col("text")).alias("c")).collect()]
    assert got == ["hello world", "hello world", "hello world",
                   "unrelated", ""]


def test_dedup_against_corpus_drops_known_content(spark):
    seen = spark.createDataFrame(
        [(1, "The quick brown fox."), (2, "Some corpus document")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "the QUICK brown fox"),   # canonical dup of 1
         (11, "a genuinely new doc"),
         (12, "some corpus document!")],  # canonical dup of 2
        "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup_against_corpus(new, seen).collect()}
    assert kept == {11}
    # raw mode keeps them (strings differ byte-wise)
    raw = {r["doc_id"]
           for r in dedup_against_corpus(new, seen, canonical=False).collect()}
    assert raw == {10, 11, 12}


def test_canonical_fingerprint_matches_canonical_equality(spark):
    df = spark.createDataFrame(
        [(1, "A  B"), (2, "a b"), (3, "a-b"), (4, "ab")],
        "doc_id long, text string")
    rows = df.select("doc_id",
                     canonical_fingerprint_md5("text").alias("h")).collect()
    h = {r["doc_id"]: r["h"] for r in rows}
    assert h[1] == h[2] == h[3]
    assert h[4] != h[1]


def test_collocations_pmi(spark):
    from bid_evaluation_ext.operators.text import collocations

    # "new york" always adjacent (high PMI); "the" everywhere (low PMI)
    rows = [("new york is big the end",), ("i love new york the most",),
            ("new york new york the city",), ("the the the filler the",)]
    df = spark.createDataFrame(rows, "text string")
    out = collocations(df, min_count=2, k=5)
    got = [((r["left"], r["right"]), r["pmi"]) for r in out.collect()]
    pairs = dict(got)
    assert ("new", "york") in pairs
    # "new york": c_ab=4, c_a=4, c_b=4, N=23 -> pmi = ln(4*23/16)
    import math
    assert pairs[("new", "york")] == pytest.approx(
        round(math.log(4 * 23 / 16) * 1e4) / 1e4, abs=1e-9)
    # ranked descending by pmi
    vals = [p for _, p in got]
    assert vals == sorted(vals, reverse=True)


def test_collocations_empty_corpus(spark):
    from bid_evaluation_ext.operators.text import collocations

    df = spark.createDataFrame([("",), (None,)], "text string")
    out = collocations(df)
    assert out.count() == 0
    assert out.columns == ["left", "right", "n_pair", "pmi"]


def test_minhash_against_corpus(spark):
    """Cross-corpus near-dup: a perturbed re-send is flagged against the
    kept corpus; genuinely new text is not; the verify is exact Jaccard."""
    from bid_evaluation_ext.operators.dedup import minhash_against_corpus

    base = ("the quick brown fox jumps over the lazy dog while the calm "
            "river flows past the old stone bridge in the quiet valley")
    corpus = spark.createDataFrame(
        [(1, base),
         (2, "completely unrelated content about distributed query engines "
             "and columnar storage formats with vectorized execution")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, base + " with one extra clause"),       # near-dup of 1
         (101, "entirely fresh material regarding alpine weather patterns "
               "and seasonal snowfall accumulation in high meadows")],
        "doc_id long, text string")
    got = minhash_against_corpus(new, corpus, threshold=0.5).collect()
    assert [(r["new_id"], r["corpus_id"]) for r in got] == [(100, 1)]
    assert got[0]["jaccard"] > 0.7
    # anti-join keeps only fresh content
    flagged = spark.createDataFrame([(r["new_id"],) for r in got], "doc_id long")
    fresh = new.join(flagged, "doc_id", "left_anti")
    assert [r["doc_id"] for r in fresh.collect()] == [101]


# ------------------------------------------- MinHash band-index delta dedup

def _shared_corpus(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet woods tonight").split()
    rows = []
    # docs 0,1: near-identical (old); 2: unique old
    rows.append((0, " ".join(base)))
    rows.append((1, " ".join(base[:-1] + ["yesterday"])))
    rows.append((2, "completely different text about spark physics "
                    "and parquet files stored on disk"))
    # new docs: 10 near-dups doc 0, 11 unique, 12 near-dups itself w/ 13
    rows.append((10, " ".join(base[:-2] + ["this", "evening"])))
    rows.append((11, "another genuinely novel document with words "
                     "never seen before anywhere else here"))
    twin = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma").split()
    rows.append((12, " ".join(twin)))
    rows.append((13, " ".join(twin[:-1] + ["tau"])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_band_table_is_persistable_index(spark):
    from bid_evaluation_ext.operators.dedup import minhash_index_table
    docs = _shared_corpus(spark).filter("doc_id < 10")
    bt = minhash_index_table(docs, bands=16, num_perm=64)
    rows = bt.collect()
    assert {r["doc_id"] for r in rows} == {0, 1, 2}
    assert all(0 <= r["band"] < 16 for r in rows)
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["band"])
    assert all(len(b) == 16 for b in per_doc.values())


def test_incremental_candidates_index_and_delta(spark):
    from bid_evaluation_ext.operators.cache import release_all
    from bid_evaluation_ext.operators.dedup import (
        incremental_minhash_candidates, minhash_index_table)
    corpus = _shared_corpus(spark)
    index = minhash_index_table(corpus.filter("doc_id < 10"))
    new = corpus.filter("doc_id >= 10")
    got = {(r["a_id"], r["b_id"]): r["source"]
           for r in incremental_minhash_candidates(new, index).collect()}
    release_all()
    # 10 pairs old 0 and 1 through the index; 12/13 pair within delta
    assert got.get((0, 10)) == "index"
    assert got.get((1, 10)) == "index"
    assert got.get((12, 13)) == "new"
    # unique docs pair with nothing; old-vs-old is NEVER recomputed
    assert not any(11 in p for p in got)
    assert (0, 1) not in got


def test_incremental_without_index_is_within_delta_only(spark):
    from bid_evaluation_ext.operators.cache import release_all
    from bid_evaluation_ext.operators.dedup import (
        incremental_minhash_candidates)
    new = _shared_corpus(spark).filter("doc_id >= 10")
    got = {(r["a_id"], r["b_id"]) for r in
           incremental_minhash_candidates(new).collect()}
    release_all()
    assert got == {(12, 13)}


def test_recrawled_id_never_pairs_with_itself(spark):
    from bid_evaluation_ext.operators.cache import release_all
    from bid_evaluation_ext.operators.dedup import (
        incremental_minhash_candidates, minhash_index_table)
    docs = _shared_corpus(spark).filter("doc_id = 0")
    index = minhash_index_table(docs)
    got = incremental_minhash_candidates(docs, index).collect()
    release_all()
    assert got == []
