"""Aho-Corasick blocklist: automaton correctness vs brute force,
overlap/suffix patterns, Spark kernel + gate filter."""

from __future__ import annotations

import random

import pytest

from bid_evaluation_ext.operators.blocklist import (
    AhoCorasick,
    blocklist_filter,
    blocklist_hits,
)


def _brute(text, patterns):
    hits = []
    for i, p in enumerate(patterns):
        start = 0
        while True:
            j = text.find(p, start)
            if j < 0:
                break
            hits.append((i, j + len(p) - 1))
            start = j + 1                      # overlapping
    return sorted(hits)


def test_matches_brute_force_random():
    rng = random.Random(0)
    pats = ["ab", "abc", "bca", "c", "aa", "cab"]
    ac = AhoCorasick(pats)
    for _ in range(200):
        text = "".join(rng.choice("abc") for _ in range(60))
        assert sorted(ac.find_all(text)) == _brute(text, pats), text


def test_suffix_and_overlap_patterns():
    ac = AhoCorasick(["he", "she", "his", "hers"])
    got = sorted(ac.find_all("ushers"))
    # 'she' ends at 3, 'he' ends at 3, 'hers' ends at 5
    pats = ["he", "she", "his", "hers"]
    assert [(pats[i], p) for i, p in got] == [
        ("she", 3), ("he", 3), ("hers", 5)] or got == _brute(
        "ushers", pats)


def test_validation():
    with pytest.raises(ValueError):
        AhoCorasick([])
    with pytest.raises(ValueError):
        AhoCorasick(["a", "a"])
    with pytest.raises(ValueError):
        AhoCorasick([""])


def test_spark_hits_and_gate(spark):
    rows = [(0, "clean words only"), (1, "spam offer spam"),
            (2, None), (3, "offer")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hits = {r["doc_id"]: r
            for r in blocklist_hits(df, ["spam", "offer"]).collect()}
    assert hits[0]["n_hits"] == 0 and hits[0]["first_pattern"] is None
    assert hits[1]["n_hits"] == 3 and hits[1]["n_patterns"] == 2
    assert hits[1]["first_pattern"] == "offer"
    assert hits[2]["n_hits"] == 0
    kept = blocklist_filter(df, ["spam", "offer"]).collect()
    assert sorted(r["doc_id"] for r in kept) == [0, 2]
    # text column survives the anti-join (payload never scanned twice)
    assert {r["text"] for r in kept} == {"clean words only", None}
