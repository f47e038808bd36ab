"""Property-based invariants for the round-7 wave.

Two groups: (1) cross-operator equivalences the VERDICT asked for
(PIT ≡ as-of on SCD2 history, IVM delta ≡ full recompute, kNN under
corpus duplication, active_users window-1 ≡ daily distinct) and
(2) large-offset conditioning properties over a ``values + 1e6·offset``
strategy — the regression harness for the round-7 stable-co-moment
fixes (correlation/OLS/trend/CUPED/Welch/Mahalanobis), where the old
raw-moment arithmetic lost ~6 digits and these tests fail.
"""

from __future__ import annotations

import math

import pytest

from hypothesis import HealthCheck, assume, given, settings, strategies as st

SET = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

BIG = 1e6  # the conditioning offset: mean ≫ spread, the raw-moment killer


# ---------------------------------------------------------------------------
# cross-operator equivalences
# ---------------------------------------------------------------------------

@SET
@given(data=st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),       # key
              st.integers(min_value=0, max_value=40),      # ts
              st.sampled_from(["a", "b", "c"])),            # attr
    min_size=2, max_size=14),
    fact_ts=st.lists(st.integers(min_value=-5, max_value=45),
                     min_size=1, max_size=8))
def test_pit_join_equals_asof_on_scd2_history(spark, data, fact_ts):
    """On a tiling SCD2 history, the point-in-time interval join and a
    backward as-of join on valid_from pick the SAME version for every
    fact (intervals tile, so 'latest valid_from ≤ ts' is inside its
    interval iff any version matches)."""
    from bid_evaluation_ext.operators.asof import asof_join
    from bid_evaluation_ext.operators.cdc import pit_join, scd2_history

    rows = [(f"k{k}", int(t), i, a) for i, (k, t, a) in enumerate(data)]
    log = spark.createDataFrame(rows, "k string, ts long, id long, a string")
    hist = scd2_history(log, ["k"], "ts", ["a"], "id")

    facts = spark.createDataFrame(
        [(f"k{k}", int(t)) for k in range(3) for t in fact_ts],
        "k string, fts long").distinct()

    got_pit = {(r["k"], r["fts"]): r["a"] for r in
               pit_join(facts, hist, ["k"], "fts", how="left").collect()}
    asof = asof_join(
        facts.withColumnRenamed("fts", "ts"),
        hist.select("k", F_col("valid_from").alias("ts"), "a"),
        on="ts", by="k", right_cols=["a"], direction="backward")
    got_asof = {(r["k"], r["ts"]): r["a_right"] for r in asof.collect()}
    assert got_pit == got_asof


@SET
@given(a=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 9)),
                  min_size=0, max_size=10),
       da=st.lists(st.tuples(st.integers(0, 4), st.integers(10, 19)),
                   min_size=0, max_size=6),
       b=st.lists(st.tuples(st.integers(0, 4), st.integers(20, 29)),
                  min_size=0, max_size=10),
       db=st.lists(st.tuples(st.integers(0, 4), st.integers(30, 39)),
                   min_size=0, max_size=6))
def test_ivm_refresh_equals_full_recompute(spark, a, da, b, db):
    """refresh_join(a ⋈ b, Δ...) multiset-equals (a+Δa) ⋈ (b+Δb) for
    random insert batches, including empty deltas and duplicate rows."""
    from bid_evaluation_ext.operators.ivm import refresh_join

    mk = lambda rows, col: spark.createDataFrame(  # noqa: E731
        [(k, v) for k, v in rows] or [(None, None)],
        f"k int, {col} int").filter("k is not null")
    A, dA = mk(a, "va"), mk(da, "va")
    B, dB = mk(b, "vb"), mk(db, "vb")
    mat = A.join(B, "k")
    refreshed = sorted(map(tuple, refresh_join(mat, A, dA, B, dB,
                                               "k").collect()))
    full = sorted(map(tuple, A.unionByName(dA)
                      .join(B.unionByName(dB), "k").collect()))
    assert refreshed == full


@SET
@given(pts=st.lists(st.tuples(st.floats(-50, 50, allow_nan=False, width=16),
                              st.floats(-50, 50, allow_nan=False, width=16)),
                    min_size=5, max_size=12),
       sx=st.floats(0.5, 4.0), sy=st.floats(0.5, 4.0))
def test_mahalanobis_affine_invariance_with_big_offset(spark, pts, sx, sy):
    """d² is invariant under per-axis scale + a 1e6 offset (the map is
    invertible affine). The old raw avg(x²)−avg(x)² covariance lost the
    variance entirely at this offset; stable co-moments keep d²."""
    from bid_evaluation_ext.operators.profile import mahalanobis_outliers

    rows = [("g", float(x), float(y)) for x, y in pts]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    df2 = df.selectExpr("g", f"x * {sx} + {BIG} AS x",
                        f"y * {sy} + {BIG} AS y")
    r1 = mahalanobis_outliers(df, "g", "x", "y", top_k=50).collect()
    r2 = mahalanobis_outliers(df2, "g", "x", "y", top_k=50).collect()
    assume(r1)  # degenerate covariance groups are omitted by contract
    # top_k=50 > n returns every row: d² invariance <=> equal multisets
    # (pointwise matching through the map is float-fragile for dup rows)
    d1 = sorted(r["d2"] for r in r1)
    d2_ = sorted(r["d2"] for r in r2)
    assert len(d1) == len(d2_)
    for a, b in zip(d1, d2_):
        assert b == pytest.approx(a, abs=5e-3)


@SET
@given(seed=st.integers(0, 10_000))
def test_knn_prediction_invariant_under_corpus_duplication(spark, seed):
    """Duplicating every corpus vector (fresh ids, same label) and
    doubling k leaves every prediction unchanged — each neighbor's vote
    doubles, majorities and smallest-label tie-breaks are preserved."""
    import random

    from bid_evaluation_ext.operators.classify import knn_classify

    rng = random.Random(seed)
    dim, n = 4, 14
    corpus = [(i, [rng.uniform(-1, 1) for _ in range(dim)],
               rng.choice(["p", "q"])) for i in range(n)]
    queries = [(1000 + j, [rng.uniform(-1, 1) for _ in range(dim)], "?")
               for j in range(3)]

    def cos(u, v):
        du = math.sqrt(sum(x * x for x in u)) or 1e-12
        dv = math.sqrt(sum(x * x for x in v)) or 1e-12
        return sum(a * b for a, b in zip(u, v)) / (du * dv)

    k = 5
    for _, qv, _ in queries:
        sims = sorted((cos(qv, cv) for _, cv, _ in corpus), reverse=True)
        # a cosine tie at the k-boundary makes the top-k set ambiguous
        assume(sims[k - 1] - sims[k] > 1e-9)

    schema = "vec_id long, embedding array<double>, label string"
    c1 = spark.createDataFrame(corpus, schema)
    c2 = spark.createDataFrame(
        corpus + [(i + 5000, v, l) for i, v, l in corpus], schema)
    q = spark.createDataFrame(queries, schema)
    p1 = {r["vec_id"]: r["predicted"] for r in
          knn_classify(q, c1, k=k).collect()}
    p2 = {r["vec_id"]: r["predicted"] for r in
          knn_classify(q, c2, k=2 * k).collect()}
    assert p1 == p2


@SET
@given(events=st.lists(
    st.tuples(st.integers(0, 9),                 # user
              st.integers(0, 20)),               # day offset
    min_size=1, max_size=30))
def test_active_users_window1_equals_daily_distinct(spark, events):
    """au_1 per observed day == the plain distinct-user count that day
    (the window-1 degenerate case of the contribution expansion)."""
    from bid_evaluation_ext.operators.timeseries import active_users

    rows = [(u, f"2024-03-{d + 1:02d} 0{u % 10}:00:00") for u, d in events]
    df = spark.createDataFrame(rows, "user_id long, ts_s string") \
        .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {str(r["day"])[:10]: r["au_1"] for r in
           active_users(df, "ts", "user_id", windows=(1,)).collect()}
    ref = {}
    for u, d in events:
        ref.setdefault(f"2024-03-{d + 1:02d}", set()).add(u)
    assert got == {d: len(us) for d, us in ref.items()}


# ---------------------------------------------------------------------------
# large-offset conditioning regressions (the round-7 stable-co-moment fixes)
# ---------------------------------------------------------------------------

offset_vals = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    min_size=5, max_size=12)


@SET
@given(xs=offset_vals)
def test_trend_slope_invariant_under_big_x_offset(spark, xs):
    """grouped_linear_fit: shifting x by 1e6 must leave slope and r²
    unchanged (intercept maps by −slope·1e6). Raw moments lose the
    slope entirely at this offset."""
    from bid_evaluation_ext.operators.analytics import grouped_linear_fit

    rows = [("g", float(i), float(x) + 0.5 * i) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    df2 = df.selectExpr("g", f"x + {BIG} AS x", "y")
    r1 = grouped_linear_fit(df, "g", "x", "y").collect()[0]
    r2 = grouped_linear_fit(df2, "g", "x", "y").collect()[0]
    assume(r1["slope"] is not None)
    assert r2["slope"] == pytest.approx(r1["slope"], rel=1e-6, abs=1e-9)
    if r1["r2"] is not None:
        assert r2["r2"] == pytest.approx(r1["r2"], rel=1e-6, abs=1e-9)


@SET
@given(ys=offset_vals)
def test_welch_t_invariant_under_big_metric_offset(spark, ys):
    """Welch t and dof are offset-invariant (variances and the mean
    difference are); only the means move."""
    from bid_evaluation_ext.operators.analytics import welch_t_test

    rows = [(i % 2, float(y) + (i % 2)) for i, y in enumerate(ys)]
    assume(len({r[0] for r in rows}) == 2)
    # a group spread below the double ulp AT the offset magnitude
    # (1e6 · 2⁻⁵² ≈ 2e-10) is unrepresentable after the shift — float
    # degeneracy, not a conditioning property; require real spread or
    # exactly constant groups
    for v in (0, 1):
        g = [m for vv, m in rows if vv == v]
        spread = max(g) - min(g)
        assume(spread == 0.0 or spread > 1e-3)
    df = spark.createDataFrame(rows, "variant int, m double")
    df2 = df.selectExpr("variant", f"m + {BIG} AS m")
    r1 = welch_t_test(df, "variant", "m").collect()[0]
    r2 = welch_t_test(df2, "variant", "m").collect()[0]
    # tolerance floor: +1e6 rounds each INPUT to ~1e-10 abs before any
    # aggregation sees it — with spreads ≥ 1e-3 that is ≤ ~1e-6 rel
    assert r2["diff"] == pytest.approx(r1["diff"], rel=1e-4, abs=1e-6)
    if r1["t"] is not None:
        assert r2["t"] == pytest.approx(r1["t"], rel=1e-4, abs=1e-9)
        assert r2["dof"] == pytest.approx(r1["dof"], rel=1e-4, abs=1e-9)


@SET
@given(xs=offset_vals)
def test_cuped_invariant_under_big_covariate_offset(spark, xs):
    """cuped_adjust: θ and x̄ both absorb a covariate offset, so the
    ADJUSTED METRIC is identical — the end-to-end conditioning check."""
    from bid_evaluation_ext.operators.analytics import cuped_adjust

    rows = [(i, float(x), float(x) * 0.7 + (i % 3)) for i, x in
            enumerate(xs)]
    # covariate spread below ~1e-3 is sub-ulp after the +1e6 shift
    # (representation loss, not conditioning — see the Welch guard)
    spread = max(xs) - min(xs)
    assume(spread == 0.0 or spread > 1e-3)
    df = spark.createDataFrame(rows, "id long, c double, m double")
    df2 = df.selectExpr("id", f"c + {BIG} AS c", "m")
    r1 = {r["id"]: r["m_cuped"] for r in cuped_adjust(df, "m", "c")
          .collect()}
    r2 = {r["id"]: r["m_cuped"] for r in cuped_adjust(df2, "m", "c")
          .collect()}
    for i in r1:
        assert r2[i] == pytest.approx(r1[i], rel=1e-6, abs=1e-6)


@SET
@given(xs=offset_vals)
def test_ols_invariant_under_big_regressor_offset(spark, xs):
    """ols2: shifting x1 by 1e6 leaves b1, b2, r² unchanged (b0 maps by
    −b1·1e6) — the centered-Gram conditioning fix, end to end."""
    from bid_evaluation_ext.operators.regress import ols2

    rows = [("g", float(i), float((i * i) % 5), float(x))
            for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows,
                               "g string, x1 double, x2 double, y double")
    df2 = df.selectExpr("g", f"x1 + {BIG} AS x1", "x2", "y")
    r1 = ols2(df, "g", "x1", "x2", "y").collect()[0]
    r2 = ols2(df2, "g", "x1", "x2", "y").collect()[0]
    assume(r1["b1"] is not None and r2["b1"] is not None)
    # outputs are 4-decimal rounded by contract
    assert r2["b1"] == pytest.approx(r1["b1"], abs=2e-4)
    assert r2["b2"] == pytest.approx(r1["b2"], abs=2e-4)
    if r1["r2"] is not None and r2["r2"] is not None:
        assert r2["r2"] == pytest.approx(r1["r2"], abs=2e-4)


@SET
@given(xs=offset_vals)
def test_correlation_invariant_under_big_offset(spark, xs):
    """correlation_matrix at offset 1e6: the direct stress for the
    round-7 F.corr fix (raw moments drifted and could leave [−1, 1])."""
    from bid_evaluation_ext.operators.profile import correlation_matrix

    rows = [(float(x), float(x) * 2 + (i % 3), float(i))
            for i, x in enumerate(xs)]
    # same representation-loss guard as the Welch/CUPED tests
    spread = max(xs) - min(xs)
    assume(spread == 0.0 or spread > 1e-3)
    df = spark.createDataFrame(rows, "x double, y double, z double")
    df2 = df.selectExpr(f"x + {BIG} AS x", f"y + {BIG} AS y", "z")
    r1 = {(r["col_a"], r["col_b"]): r["r"]
          for r in correlation_matrix(df, ["x", "y", "z"]).collect()}
    r2 = {(r["col_a"], r["col_b"]): r["r"]
          for r in correlation_matrix(df2, ["x", "y", "z"]).collect()}
    for k, v in r1.items():
        if v is None:
            continue
        assert abs(v) <= 1 + 1e-9
        if r2[k] is not None:
            assert r2[k] == pytest.approx(v, rel=1e-6, abs=1e-7)


# asof_join inside test_pit_join_equals_asof_on_scd2_history needs F.col
# at module import time without shadowing the hypothesis namespace
from pyspark.sql import functions as _F  # noqa: E402


def F_col(name):
    return _F.col(name)


@SET
@given(shared=st.lists(st.sampled_from("abcdefgh"), min_size=6, max_size=12),
       pre=st.lists(st.sampled_from("pqrstuv"), min_size=0, max_size=6),
       post=st.lists(st.sampled_from("wxyz"), min_size=0, max_size=6))
def test_winnow_coverage_theorem(spark, shared, pre, post):
    """Schleimer et al. guarantee: two documents sharing a token run of
    length >= k + w - 1 (k=3, w=4 -> 6) share >= 1 winnow fingerprint,
    for ANY surrounding context."""
    from bid_evaluation_ext.operators.text import winnow_fingerprints

    d1 = " ".join(shared)
    d2 = " ".join(pre + shared + post)
    df = spark.createDataFrame([(1, d1), (2, d2)], "id long, text string")
    out = {r["id"]: set(r["w"]) for r in
           df.select("id", winnow_fingerprints(_F.col("text"), 3, 4)
                     .alias("w")).collect()}
    assert out[1] & out[2]


@SET
@given(a=st.lists(st.lists(st.sampled_from("abcdef"), min_size=3,
                           max_size=8), min_size=1, max_size=5),
       b=st.lists(st.lists(st.sampled_from("cdefgh"), min_size=3,
                           max_size=8), min_size=1, max_size=5))
def test_corpus_overlap_symmetry(spark, a, b):
    """jaccard is symmetric; containments swap; counts are consistent."""
    from bid_evaluation_ext.operators.dedup import corpus_overlap

    da = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(a)],
        "doc_id long, text string")
    db = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(b)],
        "doc_id long, text string")
    r1 = corpus_overlap(da, db, k=3).collect()[0]
    r2 = corpus_overlap(db, da, k=3).collect()[0]
    assert r1["jaccard"] == r2["jaccard"]
    assert r1["shingles_common"] == r2["shingles_common"]
    assert r1["containment_a_in_b"] == r2["containment_b_in_a"]
    assert r1["containment_b_in_a"] == r2["containment_a_in_b"]
    if r1["jaccard"] is not None:
        assert 0.0 <= r1["jaccard"] <= 1.0


@SET
@given(seed=st.integers(0, 10_000),
       lam=st.floats(min_value=0.0, max_value=1.0))
def test_mmr_rank_count_and_no_repeats(spark, seed, lam):
    """MMR emits min(select_k, n_candidates) rows per query, never
    repeats a document, and rank 1 is always the max-relevance doc."""
    import random

    from bid_evaluation_ext.operators.retrieval import mmr_rerank

    rng = random.Random(seed)
    rows = []
    for q in range(2):
        n = rng.randint(1, 6)
        for d in range(n):
            rows.append((q, 100 * q + d, round(rng.uniform(0, 1), 3),
                         [rng.uniform(-1, 1) for _ in range(3)]))
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, rel double, "
              "embedding array<double>")
    out = mmr_rerank(df, select_k=4, lam=float(lam)).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    n_cands = {q: sum(1 for r in rows if r[0] == q) for q in (0, 1)}
    for q, rs in per_q.items():
        assert len(rs) == min(4, n_cands[q])
        ids = [r["doc_id"] for r in rs]
        assert len(set(ids)) == len(ids)
        best_rel = max((r for r in rows if r[0] == q),
                       key=lambda r: (r[2], -r[1]))
        rank1 = next(r for r in rs if r["rank"] == 1)
        # rank 1 maximizes lam*rel with min-id tiebreak on the rounded
        # objective — recompute the winner the operator's way
        cands = [(round(lam * r[2] * 1e6) / 1e6, -r[1]) for r in rows
                 if r[0] == q]
        want = max(cands)
        assert round(lam * next(r[2] for r in rows
                                if r[0] == q and r[1] == -want[1])
                     * 1e6) / 1e6 == want[0]
        assert rank1["doc_id"] == -want[1]
