"""MaxSim late interaction: hand-computable scores, two-phase ==
brute on separable data, tie determinism, self exclusion."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.lateinteraction import maxsim_topk


def _tok(rows, spark, idc="doc_id"):
    return spark.createDataFrame(
        rows, f"{idc} long, token_idx long, vec array<double>")


def test_hand_computed_maxsim(spark):
    # doc 1 tokens: e1, e2 ; doc 2 tokens: e3-ish
    docs = _tok([(1, 0, [1.0, 0.0, 0.0]), (1, 1, [0.0, 1.0, 0.0]),
                 (2, 0, [0.0, 0.0, 1.0]), (2, 1, [0.0, 0.6, 0.8])],
                spark)
    # query: tokens e1 and e2 → doc1 score 1+1=2;
    # doc2: max cos(e1,·)=0, max cos(e2,·)=0.6 → 0.6
    qs = _tok([(7, 0, [1.0, 0.0, 0.0]), (7, 1, [0.0, 1.0, 0.0])],
              spark, "query_id")
    got = {(r["query_id"], r["doc_id"]): (r["maxsim"], r["rnk"])
           for r in maxsim_topk(docs, qs, k=5).collect()}
    assert abs(got[(7, 1)][0] - 2.0) < 1e-12 and got[(7, 1)][1] == 1
    assert abs(got[(7, 2)][0] - 0.6) < 1e-12 and got[(7, 2)][1] == 2


def test_two_phase_matches_brute_on_separable_clusters(spark):
    import numpy as np
    rng = np.random.default_rng(0)
    rows = []
    for d in range(20):
        center = np.zeros(8)
        center[d % 8] = 1.0
        for t in range(3):
            v = center + 0.05 * rng.normal(size=8)
            rows.append((d, t, [float(x) for x in v]))
    docs = _tok(rows, spark)
    qs = _tok([r for r in rows if r[0] < 4],
              spark, "query_id")
    brute = {(r["query_id"], r["rnk"]): r["doc_id"]
             for r in maxsim_topk(docs, qs, k=3).collect()}
    two = {(r["query_id"], r["rnk"]): r["doc_id"]
           for r in maxsim_topk(docs, qs, k=3,
                                n_candidates=8).collect()}
    assert brute == two
    # rank 1 is always the query's own doc (exclude_self off)
    for qid in range(4):
        assert brute[(qid, 1)] == qid
    # and with exclusion it isn't
    excl = maxsim_topk(docs, qs, k=3, exclude_self=True)
    assert all(r["doc_id"] != r["query_id"] for r in excl.collect())


def test_tie_breaks_by_doc_id(spark):
    docs = _tok([(5, 0, [1.0, 0.0]), (3, 0, [1.0, 0.0])], spark)
    qs = _tok([(0, 0, [2.0, 0.0])], spark, "query_id")
    got = [(r["doc_id"], r["rnk"])
           for r in maxsim_topk(docs, qs, k=2).collect()]
    assert sorted(got) == [(3, 1), (5, 2)]


def test_pooled_candidates_width_is_pinned(spark):
    """The two-phase rerank can never widen beyond n_candidates per
    query — the 100-TB contract (verdict r10 task 6)."""
    import pyspark.sql.functions as F
    from bid_evaluation_ext.operators.lateinteraction import (
        pooled_candidates)

    n_docs, n_cand = 300, 7
    toks = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("token_idx")
    ).withColumn("vec", F.expr(
        "transform(sequence(0, 3), j -> "
        "cos(doc_id * 0.7 + token_idx * 1.3 + j))"))
    qs = spark.range(5).select(
        F.col("id").alias("query_id"),
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("token_idx")
    ).withColumn("vec", F.expr(
        "transform(sequence(0, 3), j -> "
        "cos(query_id * 0.9 + token_idx * 1.7 + j))"))
    cand = pooled_candidates(toks, qs, n_cand)
    per_q = {r["_q"]: r["n"] for r in
             cand.groupBy("_q").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    assert set(per_q) == set(range(5))
    assert all(n == n_cand for n in per_q.values())
    # fewer docs than n_candidates → all docs, never more
    cand2 = pooled_candidates(toks.filter("doc_id < 4"), qs, n_cand)
    assert cand2.groupBy("_q").count().agg(
        F.max("count")).collect()[0][0] == 4


def _messy_corpus(spark):
    """Nulls, ragged dims, null elements, empty + zero vectors, dup
    query tokens, null ids/token idx — every null path of the Column
    cosine."""
    docs = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (1, 1, [0.6, 0.8]),
         (2, 0, [0.0, 1.0]), (2, 1, None),
         (3, 0, [1.0, 2.0, 2.0]),          # ragged dim
         (3, 1, [0.5, None]),              # null element
         (4, 0, [0.0, 0.0]),               # zero norm
         (4, 1, []),                       # empty vector
         (None, 0, [1.0, 1.0]),            # null doc id
         (5, None, [3.0, 4.0]),            # null token idx
         (6, 0, [2.0, 1.0]), (6, 0, [1.0, 3.0])],
        "doc_id long, token_idx long, vec array<double>")
    qs = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0]),
         (2, 0, [1.0, 1.0, 1.0]),          # 3-dim query token
         (2, 1, None),                     # null query vector
         (3, 0, [0.0, 0.0]),               # zero-norm query
         (3, 0, [1.0, 2.0]),               # duplicate (qid, qt)
         (None, 0, [1.0, 0.0]),            # null query id
         (4, None, [2.0, 0.5])],           # null query token idx
        "query_id long, token_idx long, vec array<double>")
    return docs, qs


@pytest.mark.parametrize("exclude_self", [False, True])
def test_maxsim_kernel_matches_join_engine(spark, exclude_self):
    """r12 opt: the Arrow-kernel brute path is bit-identical to the
    broadcast-join + Column-cosine engine on a corpus exercising every
    null/ragged/tie path."""
    docs, qs = _messy_corpus(spark)
    a = maxsim_topk(docs, qs, k=4, exclude_self=exclude_self,
                    engine="join").collect()
    b = maxsim_topk(docs, qs, k=4, exclude_self=exclude_self,
                    engine="kernel").collect()
    def key(rows):
        return sorted(
            ((r["query_id"], r["rnk"], r["doc_id"], r["maxsim"])
             for r in rows),
            key=lambda t: tuple((v is None, v) for v in t))

    ka, kb = key(a), key(b)
    assert ka == kb
    assert len(ka) > 0


def test_maxsim_auto_respects_qtoken_cap(spark, monkeypatch):
    """auto routes to the join engine above the query-token cap and
    to the kernel below it — identical results either way."""
    docs, qs = _messy_corpus(spark)
    monkeypatch.setenv("SPARK_GRAFT_MAXSIM_LOCAL_MAX_QTOKENS", "2")
    over = maxsim_topk(docs, qs, k=3, engine="auto")
    assert "MapInPandas" not in over._jdf.queryExecution().toString()
    monkeypatch.setenv("SPARK_GRAFT_MAXSIM_LOCAL_MAX_QTOKENS", "1000")
    under = maxsim_topk(docs, qs, k=3, engine="auto")
    assert "MapInPandas" in under._jdf.queryExecution().toString()
    nkey = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    oa = sorted(map(tuple, over.collect()), key=nkey)
    ub = sorted(map(tuple, under.collect()), key=nkey)
    assert oa == ub
    with pytest.raises(ValueError, match="engine"):
        maxsim_topk(docs, qs, k=3, engine="bogus")
