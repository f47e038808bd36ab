"""Span-level exact-substring duplication (operators/spans.py)."""

from __future__ import annotations

import pytest

from bid_evaluation_ext.operators.spans import (
    duplicated_span_stats,
    span_occurrences,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_occurrences_positions_and_stride(spark):
    df = _docs(spark, [(0, "a b c d e")])
    occ = span_occurrences(df, span=3, stride=2).collect()
    assert [(r["pos"]) for r in sorted(occ, key=lambda r: r["pos"])] == [1, 3]
    # same window text → same hash regardless of document
    df2 = _docs(spark, [(0, "a b c"), (1, "a b c")])
    hs = [r["span_hash"] for r in span_occurrences(df2, span=3).collect()]
    assert hs[0] == hs[1]


def test_keep_first_policy(spark):
    """Unique corpus scores 0; an exact repeat is flagged only on the
    LATER document; within-doc repeats count too."""
    df = _docs(spark, [(0, "x y z w"),
                       (1, "x y z q"),      # shares span 'x y z' with 0
                       (2, "p p p p p p")])  # self-repeating
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, span=3, stride=1).collect()}
    assert out[0]["n_dup_spans"] == 0            # first occurrence free
    assert out[1]["n_dup_spans"] == 1            # 'x y z' seen in doc 0
    assert out[1]["n_spans"] == 2
    assert out[2]["n_spans"] == 4                # 'p p p' ×4 windows
    assert out[2]["n_dup_spans"] == 3            # all but the first
    assert out[2]["dup_ratio"] == pytest.approx(0.75)


def test_short_docs_keep_zero_rows(spark):
    df = _docs(spark, [(0, "only two"), (1, ""), (2, None),
                       (3, "a b c d")])
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, span=3).collect()}
    assert set(out) == {0, 1, 2, 3}
    for d in (0, 1, 2):
        assert out[d]["n_spans"] == 0 and out[d]["dup_ratio"] == 0.0
    assert out[3]["n_spans"] == 2


def test_duplicating_corpus_flags_the_copy(spark):
    base = [(i, f"a{i} b{i} c{i} d{i} e{i} f{i}") for i in range(4)]
    df = _docs(spark, base)
    copy = _docs(spark, [(100 + i, t) for i, t in base])
    both = df.union(copy)
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(both, span=4, stride=1).collect()}
    for i in range(4):
        assert out[i]["n_dup_spans"] == 0
        assert out[100 + i]["dup_ratio"] == 1.0


def test_validation(spark):
    df = _docs(spark, [(0, "a b c")])
    with pytest.raises(ValueError):
        span_occurrences(df, span=0)
    with pytest.raises(ValueError):
        duplicated_span_stats(df, span=3, stride=0)


def test_keep_first_extreme_ids(spark):
    """Regression (r5 fix): the keep-first key is a (doc, pos) struct
    min — exact for NEGATIVE and 60-bit doc ids, where the former packed
    ``doc·2^30 + pos`` arithmetic overflowed/mis-ordered. The smallest
    (doc, pos) tuple owns the span; everyone later pays."""
    big = 1 << 60                       # doc·2^30 would overflow int64
    df = _docs(spark, [(-5, "x y z w"),
                       (big, "x y z q"),
                       (big + 1, "x y z r")])
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, span=3, stride=1).collect()}
    assert out[-5]["n_dup_spans"] == 0          # first in (doc,pos) order
    assert out[big]["n_dup_spans"] == 1         # 'x y z' seen at doc -5
    assert out[big + 1]["n_dup_spans"] == 1
    assert out[big]["n_spans"] == 2


def test_keep_first_position_order_within_huge_doc(spark):
    """Within one 60-bit-id document the FIRST position wins — ordering
    must come from the pos component once doc ids tie."""
    big = (1 << 60) + 7
    df = _docs(spark, [(big, "p p p p")])
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, span=3, stride=1).collect()}
    assert out[big]["n_spans"] == 2
    assert out[big]["n_dup_spans"] == 1         # pos 2 repeats pos 1


def test_removal_cuts_exactly_the_covered_tokens(spark):
    from bid_evaluation_ext.operators.spans import (
        remove_duplicated_spans)
    rows = [
        (0, "a b c d e f g h"),                 # first occurrence kept
        (1, "x y a b c d e f g h z"),           # 8 copied tokens cut
        (2, "unique text with no repeats at all"),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           remove_duplicated_spans(df, span=4, stride=1).collect()}
    assert out[0]["clean_text"] == "a b c d e f g h"
    assert out[0]["n_removed_tokens"] == 0
    # windows a-b-c-d .. e-f-g-h all duplicated → tokens 3..10 covered
    assert out[1]["clean_text"] == "x y z"
    assert out[1]["n_removed_tokens"] == 8 and out[1]["n_tokens"] == 11
    assert out[2]["n_removed_tokens"] == 0
    assert out[3]["clean_text"] == "" and out[3]["n_tokens"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_tokens"] == 0


def test_removal_intra_doc_repeat_keeps_first_copy(spark):
    from bid_evaluation_ext.operators.spans import (
        remove_duplicated_spans)
    # the SAME 4-gram twice inside one doc: the first stays, the
    # second is cut (keep-first is positional, not per-document)
    df = spark.createDataFrame(
        [(7, "p q r s GAP1 GAP2 p q r s tail")],
        "doc_id long, text string")
    r = remove_duplicated_spans(df, span=4, stride=1).collect()[0]
    assert r["clean_text"] == "p q r s GAP1 GAP2 tail"
    assert r["n_removed_tokens"] == 4


def test_removal_is_plan_native(spark):
    from bid_evaluation_ext.operators.spans import (
        remove_duplicated_spans)
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = remove_duplicated_spans(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
