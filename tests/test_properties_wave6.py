"""Property-based invariants for the round-6 statistical wave.

Same discipline as test_properties.py: few adversarially-shrunk examples
(a Spark round-trip per example), each pinning a mathematical invariant
rather than a point value — the class of bug unit fixtures miss.
"""

from __future__ import annotations

import math

import pytest

from hypothesis import HealthCheck, assume, given, settings, strategies as st

SET = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

vals = st.lists(
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=32),
    min_size=6, max_size=14)


@SET
@given(ys=vals,
       a=st.floats(min_value=-50, max_value=50, allow_nan=False),
       b=st.floats(min_value=0.1, max_value=10, allow_nan=False))
def test_ols_affine_equivariance(spark, ys, a, b):
    """y -> a + b*y maps (b0,b1,b2) -> (a + b*b0, b*b1, b*b2), same R^2."""
    from bid_evaluation_ext.operators.regress import ols2

    rows = [("g", float(i), float((i * i) % 5), float(y))
            for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
    df2 = df.selectExpr("g", "x1", "x2", f"{a} + {b} * y AS y")
    r1 = ols2(df, "g", "x1", "x2", "y").collect()[0]
    r2 = ols2(df2, "g", "x1", "x2", "y").collect()[0]
    assume(r1["b1"] is not None and r2["b1"] is not None)
    assert math.isclose(r2["b1"], b * r1["b1"], rel_tol=1e-2, abs_tol=2e-3)
    assert math.isclose(r2["b2"], b * r1["b2"], rel_tol=1e-2, abs_tol=2e-3)
    assert math.isclose(r2["b0"], a + b * r1["b0"], rel_tol=1e-2,
                        abs_tol=2e-3)
    if r1["r2"] is not None and r2["r2"] is not None:
        assert math.isclose(r1["r2"], r2["r2"], abs_tol=2e-3)


@SET
@given(ys=vals)
def test_ridge_shrinkage_monotone_in_lambda(spark, ys):
    """Slope norm never grows as lambda grows."""
    from bid_evaluation_ext.operators.regress import ridge2

    rows = [("g", float(i % 7), float((i * 3) % 5), float(y))
            for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
    norms = []
    for lam in (0.0, 10.0, 1000.0):
        r = ridge2(df, "g", "x1", "x2", "y", lam=lam).collect()[0]
        assume(r["b1"] is not None)
        norms.append(r["b1"] ** 2 + r["b2"] ** 2)
    assert norms[0] + 1e-6 >= norms[1] >= norms[2] - 1e-6


@SET
@given(data=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50),
                               st.sampled_from("AB")),
                     min_size=4, max_size=20))
def test_scd2_intervals_partition_and_pit_roundtrip(spark, data):
    """History intervals tile each key's timeline; PIT of every original
    log row at its own timestamp returns that row's attribute."""
    from bid_evaluation_ext.operators.cdc import pit_join, scd2_history

    rows = [(f"k{k}", int(t), i, attr) for i, (k, t, attr) in enumerate(data)]
    df = spark.createDataFrame(rows, "k string, ts long, id long, a string")
    hist = scd2_history(df, ["k"], "ts", ["a"], "id").collect()
    by_key = {}
    for h in sorted(hist, key=lambda r: (r["k"], r["version"])):
        by_key.setdefault(h["k"], []).append(h)
    for k, hs in by_key.items():
        for i, h in enumerate(hs):
            assert h["version"] == i + 1
            if i + 1 < len(hs):
                assert h["valid_to"] == hs[i + 1]["valid_from"]
            else:
                assert h["valid_to"] is None and h["is_current"]
    # PIT round-trip: the attribute valid at each row's OWN (ts, max id per
    # key,ts) must be the attribute of the LAST log row at that instant
    last_at = {}
    for k, t, i, a in ((r[0], r[1], r[2], r[3]) for r in rows):
        cur = last_at.get((k, t))
        if cur is None or i > cur[0]:
            last_at[(k, t)] = (i, a)
    facts = spark.createDataFrame(
        [(k, t) for (k, t) in last_at], "k string, fts long")
    hist_df = scd2_history(df, ["k"], "ts", ["a"], "id")
    got = {(r["k"], r["fts"]): r["a"] for r in
           pit_join(facts, hist_df, ["k"], "fts").collect()}
    for (k, t), (_, a) in last_at.items():
        # zero-length same-ts versions collapse to the last writer
        assert got[(k, t)] == a


@SET
@given(ys=st.lists(st.floats(min_value=-100, max_value=100,
                             allow_nan=False, width=32),
                   min_size=6, max_size=16))
def test_changepoint_gain_nonneg_and_bounded_split(spark, ys):
    from bid_evaluation_ext.operators.timeseries import changepoint_by_key

    rows = [("k", i, float(v)) for i, v in enumerate(ys)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = changepoint_by_key(df, "k", ["t"], "v", min_seg=2).collect()
    if len(ys) < 4:
        assert out == []
        return
    r = out[0]
    assert r["gain"] >= -1e-6
    assert 2 <= r["split_after"] <= len(ys) - 2


@SET
@given(ks=st.lists(st.integers(0, 30), min_size=2, max_size=6),
       n_extra=st.integers(0, 20))
def test_wilson_interval_contains_rate_and_is_proper(spark, ks, n_extra):
    from bid_evaluation_ext.operators.analytics import wilson_by_group

    rows = []
    for g, k in enumerate(ks):
        n = k + n_extra + 1
        rows += [(f"g{g}", i < k) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, s boolean")
    for r in wilson_by_group(df, "g", "s").collect():
        assert 0.0 <= r["ci_lo"] <= r["rate"] <= r["ci_hi"] <= 1.0


@SET
@given(da=st.lists(st.integers(1, 40), min_size=4, max_size=12),
       db=st.lists(st.integers(1, 40), min_size=4, max_size=12))
def test_logrank_antisymmetric_under_group_swap(spark, da, db):
    from bid_evaluation_ext.operators.timeseries import logrank_test

    rows = ([(float(d), True, "a") for d in da]
            + [(float(d), True, "b") for d in db])
    df = spark.createDataFrame(rows, "dur double, obs boolean, g string")
    r1 = logrank_test(df, "dur", "obs", "g", "a", "b").collect()[0]
    r2 = logrank_test(df, "dur", "obs", "g", "b", "a").collect()[0]
    assume(r1["z"] is not None and r2["z"] is not None)
    assert math.isclose(r1["z"], -r2["z"], abs_tol=2e-4)
    assert math.isclose(r1["v"], r2["v"], abs_tol=2e-4)


@SET
@given(rels=st.lists(st.integers(0, 3), min_size=1, max_size=8))
def test_ndcg_unit_interval_and_perfect_ranking(spark, rels):
    from bid_evaluation_ext.operators.metrics import ndcg_mrr

    ordered = sorted(rels, reverse=True)
    rows = ([("run", i + 1, float(v)) for i, v in enumerate(rels)]
            + [("ideal", i + 1, float(v)) for i, v in enumerate(ordered)])
    df = spark.createDataFrame(rows, "q string, rank int, rel double")
    out = {r["query"]: r for r in
           ndcg_mrr(df, "q", "rank", "rel", k=8).collect()}
    if out["run"]["ndcg"] is not None:
        assert 0.0 <= out["run"]["ndcg"] <= 1.0 + 1e-9
        assert out["ideal"]["ndcg"] == pytest.approx(1.0, abs=1e-9)


@SET
@given(body=st.lists(st.floats(min_value=-10, max_value=10,
                               allow_nan=False, width=32),
                     min_size=7, max_size=15),
       outlier=st.floats(min_value=1e4, max_value=1e5, allow_nan=False))
def test_huber_convex_and_bounded_influence(spark, body, outlier):
    """Two TRUE Huber invariants (note: 'between median and mean' is NOT
    one — a multi-modal body can pull the estimate past the median, as
    hypothesis found): (a) the estimate is a convex combination of the
    data; (b) influence saturates — magnifying the outlier 10x barely
    moves the estimate while the mean chases it."""
    from bid_evaluation_ext.operators.analytics import huber_mean_by_group

    values = [float(v) for v in body] + [float(outlier)]
    df = spark.createDataFrame([("g", v) for v in values],
                               "g string, v double")
    r = huber_mean_by_group(df, "g", "v").collect()[0]
    assume(r["scale"] is not None)
    assert min(values) - 1e-3 <= r["huber_mean"] <= max(values) + 1e-3
    bigger = [float(v) for v in body] + [float(outlier) * 10.0]
    df2 = spark.createDataFrame([("g", v) for v in bigger],
                                "g string, v double")
    r2 = huber_mean_by_group(df2, "g", "v").collect()[0]
    mean_shift = (sum(bigger) - sum(values)) / len(values)
    assert abs(r2["huber_mean"] - r["huber_mean"]) < 0.05 * mean_shift


@SET
@given(pts=st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                    min_size=5, max_size=25, unique=True),
       min_pts=st.integers(2, 4))
def test_dbscan_role_invariants(spark, pts, min_pts):
    from bid_evaluation_ext.operators.spatial import dbscan

    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r["id"]: r for r in
           dbscan(df, "id", "x", "y", eps=3.0, min_pts=min_pts).collect()}
    coords = {i: (x, y) for i, x, y in rows}

    def nbrs(i):
        xi, yi = coords[i]
        return [j for j in coords if j != i
                and (coords[j][0] - xi) ** 2 + (coords[j][1] - yi) ** 2
                <= 9.0]

    for i, r in out.items():
        n = nbrs(i)
        if r["role"] == "core":
            assert len(n) >= min_pts - 1
            assert r["cluster_id"] is not None
        elif r["role"] == "border":
            assert len(n) < min_pts - 1
            assert any(out[j]["role"] == "core" for j in n)
            assert r["cluster_id"] is not None
        else:
            assert all(out[j]["role"] != "core" for j in n)
            assert r["cluster_id"] is None
