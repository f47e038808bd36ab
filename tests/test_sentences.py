"""Sentence splitting: JVM expression path ≡ UDTF path, edge cases."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.sentences import (
    explode_sentences_udtf,
    split_sentences,
)


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [(1, "First sentence. Second one! Third?  Fourth trails"),
         (2, "One liner with no terminator"),
         (3, "   "),
         (4, "Multi.. dots?! And more.")],
        "doc_id long, text string")


def test_split_sentences_expressions(docs):
    rows = split_sentences(docs).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append((r["sentence_index"], r["sentence"]))
    assert got[1] == [(0, "First sentence."), (1, "Second one!"),
                      (2, "Third?"), (3, "Fourth trails")]
    assert got[2] == [(0, "One liner with no terminator")]
    assert 3 not in got  # whitespace-only doc has no sentences
    assert got[4][0] == (0, "Multi..")


def test_udtf_path_matches_expression_path(docs):
    a = sorted(map(tuple, split_sentences(docs).collect()))
    b = sorted(map(tuple, explode_sentences_udtf(docs).collect()))
    assert a == b and a
