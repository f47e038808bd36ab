"""Product quantization (operators/pq.py): encode + ADC top-k."""

from __future__ import annotations

import numpy as np
import pytest

from bid_evaluation_ext.operators.pq import (
    formula_codebook,
    pq_adc_topk,
    pq_encode,
)


def _vecs(spark, rows, dim=8):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")


def test_encode_known_values(spark):
    """m=2, dsub=2, ksub=2 hand-checkable codebook."""
    cb = [[[0.0, 0.0], [10.0, 10.0]],   # subspace 0
          [[5.0, 5.0], [-5.0, -5.0]]]   # subspace 1
    df = _vecs(spark, [(0, [9.0, 9.0, -4.0, -6.0]),
                       (1, [1.0, 0.0, 4.0, 6.0])], dim=4)
    out = {(r["vec_id"], r["subspace"]): r["code"]
           for r in pq_encode(df, cb).collect()}
    assert out == {(0, 0): 1, (0, 1): 1, (1, 0): 0, (1, 1): 0}


def test_encode_tie_breaks_first_minimum(spark):
    cb = [[[1.0], [1.0], [3.0]]]  # duplicate centroids: first wins
    df = _vecs(spark, [(0, [1.0])], dim=1)
    assert pq_encode(df, cb).collect()[0]["code"] == 0


def test_encode_corrupt_vectors_flagged(spark):
    cb = formula_codebook(2, 4, 2)
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0]), (2, None)],
        "vec_id long, embedding array<float>")
    out = pq_encode(df, cb).collect()
    codes = {(r["vec_id"], r["subspace"]): r["code"] for r in out}
    assert all(codes[(0, j)] >= 0 for j in range(2))
    assert all(codes[(i, j)] == -1 for i in (1, 2) for j in range(2))


def test_adc_matches_numpy_replay(spark):
    """ADC distance == Σ_j ||q_j − C[j][code_j]||² computed in numpy."""
    rng = np.random.RandomState(7)
    m, ksub, dsub = 4, 8, 2
    cb = [[list(rng.randn(dsub)) for _ in range(ksub)] for _ in range(m)]
    # storage column is array<float>: replay on the float32 round-trip
    X = rng.randn(6, m * dsub).astype(np.float32).astype(np.float64)
    df = _vecs(spark, [(i, X[i]) for i in range(6)], dim=m * dsub)
    codes = pq_encode(df, cb)
    got = {(r["query_id"], r["neighbor_id"]): r["adc_dist"]
           for r in pq_adc_topk(df, codes, cb, k=5).collect()}

    C = np.asarray(cb)
    code_np = {
        i: [int(np.argmin(((C[j] - X[i, j * dsub:(j + 1) * dsub]) ** 2
                           ).sum(axis=1))) for j in range(m)]
        for i in range(6)}
    for (q, n), d in got.items():
        want = sum(((X[q, j * dsub:(j + 1) * dsub] - C[j][code_np[n][j]])
                    ** 2).sum() for j in range(m))
        assert d == pytest.approx(want, rel=1e-9)
        assert q != n  # exclude_self


def test_adc_rank_and_k(spark):
    cb = formula_codebook(2, 4, 2)
    rng = np.random.RandomState(3)
    df = _vecs(spark, [(i, rng.randn(4)) for i in range(10)], dim=4)
    codes = pq_encode(df, cb)
    out = pq_adc_topk(df.filter("vec_id < 2"), codes, cb, k=3).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_dist"]))
    for q, rows in per_q.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
        dists = [d for _, d in rows]
        assert dists == sorted(dists)
        assert len(rows) <= 3
    with pytest.raises(ValueError):
        pq_adc_topk(df, codes, cb, k=-1)
    with pytest.raises(ValueError):
        pq_encode(df, [[[0.0], [0.0, 1.0]]])


def test_coarse_assign_nprobe(spark):
    from bid_evaluation_ext.operators.pq import coarse_assign

    cents = [[0.0, 0.0], [10.0, 10.0], [20.0, 20.0]]
    df = _vecs(spark, [(0, [1.0, 1.0]), (1, [19.0, 21.0]), (2, [0.5])],
               dim=2)
    one = {r["vec_id"]: r["list_id"]
           for r in coarse_assign(df, cents, nprobe=1).collect()}
    assert one[0] == 0 and one[1] == 2
    assert one[2] == -1  # short vector flagged, not dropped
    two = {}
    for r in coarse_assign(df, cents, nprobe=2).collect():
        two.setdefault(r["vec_id"], []).append(r["list_id"])
    assert two[0] == [0, 1] and two[1] == [2, 1]


def test_ivfpq_subset_of_full_adc(spark):
    """IVF-PQ results are exactly the full-ADC results restricted to the
    probed lists — with nprobe == n_lists the two searches coincide."""
    from bid_evaluation_ext.operators.pq import (
        formula_coarse, formula_codebook, ivfpq_topk, pq_adc_topk,
        pq_encode)

    rng = np.random.RandomState(11)
    m, dsub = 4, 4
    cb = formula_codebook(m, 8, dsub)
    coarse = formula_coarse(4, m * dsub)
    df = _vecs(spark, [(i, rng.randn(m * dsub) * 3) for i in range(30)],
               dim=m * dsub)
    q = df.filter("vec_id < 3")

    full = pq_adc_topk(q, pq_encode(df, cb), cb, k=5)
    allprobe = ivfpq_topk(q, df, coarse, cb, k=5, nprobe=4)
    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in full.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"])
         for r in allprobe.collect()}
    assert a == b

    # narrow probing returns a subset of the candidate pool, ranks contiguous
    narrow = ivfpq_topk(q, df, coarse, cb, k=5, nprobe=1).collect()
    per_q = {}
    for r in narrow:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
