"""Margin-based bitext mining: planted-alignment recovery, hubness
suppression, mutuality, and a dense numpy differential."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.bitext import mine_bitext


def _mk(spark, mat, start=0):
    return spark.createDataFrame(
        [(start + i, row.tolist()) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>")


def test_recovers_planted_alignment(spark):
    # tgt vectors are noisy copies of src vectors, shuffled: mining must
    # recover the permutation
    rng = np.random.default_rng(3)
    S = rng.normal(size=(20, 8))
    perm = rng.permutation(20)
    T = S[perm] + 0.01 * rng.normal(size=(20, 8))
    out = mine_bitext(_mk(spark, S), _mk(spark, T, start=100), k=3)
    got = {r["src_id"]: r["tgt_id"] - 100 for r in out.collect()}
    want = {int(perm[j]): j for j in range(20)}
    assert got == want
    assert all(r["margin"] > 1.0 for r in out.collect())


def test_mutual_filters_unmatched_sources(spark):
    # two sources compete for one target: mutuality keeps only the
    # target's best source
    S = np.array([[1.0, 0.0], [0.95, 0.05], [0.0, 1.0]])
    T = np.array([[1.0, 0.01], [0.0, 0.9]])
    loose = mine_bitext(_mk(spark, S), _mk(spark, T, 100), k=2,
                        mutual=False)
    strict = mine_bitext(_mk(spark, S), _mk(spark, T, 100), k=2,
                         mutual=True)
    assert loose.count() == 3            # every source picks something
    got = {r["src_id"]: r["tgt_id"] for r in strict.collect()}
    assert 1 not in got                  # source 1 lost target 100 to 0
    assert got[0] == 100 and got[2] == 101


def test_matches_dense_numpy_margins(spark):
    rng = np.random.default_rng(11)
    S = rng.normal(size=(15, 6))
    T = rng.normal(size=(12, 6))
    k = 4
    out = {(r["src_id"], r["tgt_id"] - 100): r["margin"]
           for r in mine_bitext(_mk(spark, S), _mk(spark, T, 100), k=k,
                                mutual=False).collect()}

    Sn = S / np.linalg.norm(S, axis=1, keepdims=True)
    Tn = T / np.linalg.norm(T, axis=1, keepdims=True)
    C = Sn @ Tn.T
    fa = np.sort(C, axis=1)[:, -k:].mean(axis=1)
    ba = np.sort(C, axis=0)[-k:, :].mean(axis=0)
    # candidates: union of fwd/bwd top-k (ties deterministic by id)
    best = {}
    for i in range(len(S)):
        cand = set(np.argsort(-C[i])[:k])
        cand |= {j for j in range(len(T)) if i in set(np.argsort(-C[:, j])[:k])}
        m = {j: C[i, j] / ((fa[i] + ba[j]) / 2) for j in cand}
        j = min(m, key=lambda j: (-round(m[j], 6), j))
        best[(i, j)] = m[j]
    assert set(out) == set(best)
    for key in best:
        assert out[key] == pytest.approx(best[key], abs=1e-9)


def test_validates_k(spark):
    df = _mk(spark, np.eye(2))
    with pytest.raises(ValueError, match="k must"):
        mine_bitext(df, df, k=0)
