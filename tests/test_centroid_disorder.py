"""Centroid classifier, simplified silhouette, disorder profile, power law."""

from __future__ import annotations

import math

import pytest

from bid_evaluation_ext.operators.classify import centroid_classify
from bid_evaluation_ext.operators.graph import powerlaw_alpha
from bid_evaluation_ext.operators.similarity import silhouette_simplified
from bid_evaluation_ext.operators.timeseries import event_disorder


def test_centroid_classify_two_clusters(spark):
    train = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [0.2, 0.0], 0), (3, [0.0, 0.2], 0),
         (4, [5.0, 5.0], 1), (5, [5.2, 5.0], 1)],
        "vec_id long, embedding array<float>, label int")
    test = spark.createDataFrame(
        [(10, [0.1, 0.1]), (11, [5.0, 5.2])],
        "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in centroid_classify(train, test).collect()}
    assert out[10]["predicted"] == 0 and out[11]["predicted"] == 1
    # centroid of class 1 is (5.1, 5.0); d2 for point 11 = 0.01+0.04
    assert out[11]["d2"] == pytest.approx(0.05, abs=1e-3)


def test_centroid_classify_tie_breaks_smallest_label(spark):
    train = spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [-1.0, 0.0], 3)],
        "vec_id long, embedding array<float>, label int")
    test = spark.createDataFrame([(9, [0.0, 0.0])],
                                 "vec_id long, embedding array<float>")
    r = centroid_classify(train, test).collect()[0]
    assert r["predicted"] == 3  # equidistant -> smaller label


def test_silhouette_tight_vs_boundary(spark):
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])],
        "cid int, ce array<float>")
    pts = spark.createDataFrame(
        [(i, [0.1 * i, 0.0]) for i in range(3)]        # near centroid 0
        + [(100, [5.2, 0.0])],                         # near the boundary
        "vec_id long, embedding array<float>")
    out = {r["cluster"]: r for r in
           silhouette_simplified(pts, cents).collect()}
    assert out[0]["n"] == 3 and out[0]["mean_s"] > 0.9
    assert out[1]["n"] == 1 and out[1]["mean_s"] < 0.15


def test_event_disorder_lateness(spark):
    # arrival order 1..5; event times: 10, 20, 15, 30, 8
    rows = [("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 15.0),
            ("k", 4, 30.0), ("k", 5, 8.0)]
    df = spark.createDataFrame(rows, "k string, arr long, ts double")
    r = event_disorder(df, "k", "arr", "ts").collect()[0]
    assert r["n"] == 5 and r["n_late"] == 2           # 15 (late 5), 8 (late 22)
    assert r["late_share"] == pytest.approx(0.4, abs=1e-9)
    assert r["max_late_s"] == pytest.approx(22.0, abs=1e-9)
    assert r["p50_late_s"] == pytest.approx(13.5, abs=1e-6)


def test_event_disorder_all_in_order(spark):
    rows = [("k", i, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, arr long, ts double")
    r = event_disorder(df, "k", "arr", "ts").collect()[0]
    assert r["n_late"] == 0 and r["late_share"] == 0.0
    assert r["p99_late_s"] is None and r["max_late_s"] is None


def test_powerlaw_alpha_mle(spark):
    degs = [1, 1, 1, 1, 2, 2, 3, 5, 9]
    df = spark.createDataFrame([(d,) for d in degs], "degree long")
    r = powerlaw_alpha(df).collect()[0]
    expected = 1 + len(degs) / sum(math.log(d / 0.5) for d in degs)
    assert r["alpha"] == pytest.approx(expected, abs=1e-3)
    assert r["n"] == 9 and r["max_deg"] == 9
    # d_min filter drops low degrees AND changes the reference point
    r2 = powerlaw_alpha(df, d_min=2).collect()[0]
    kept = [d for d in degs if d >= 2]
    exp2 = 1 + len(kept) / sum(math.log(d / 1.5) for d in kept)
    assert r2["alpha"] == pytest.approx(exp2, abs=1e-3)
    with pytest.raises(ValueError):
        powerlaw_alpha(df, d_min=0)


def test_active_users_dau_wau(spark):
    import datetime as dt

    from bid_evaluation_ext.operators.timeseries import active_users

    base = dt.datetime(2026, 3, 1)
    rows = []
    # u1 active days 0 and 1; u2 active day 0 only; u3 active day 8
    for u, d in (("u1", 0), ("u1", 0), ("u1", 1), ("u2", 0), ("u3", 8)):
        rows.append((u, base + dt.timedelta(days=d, hours=3)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {r["day"].day: r for r in
           active_users(df, "ts", "user_id", windows=(1, 7)).collect()}
    assert set(out) == {1, 2, 9}          # observed days only, no phantoms
    assert out[1]["au_1"] == 2 and out[1]["au_7"] == 2
    assert out[2]["au_1"] == 1 and out[2]["au_7"] == 2   # u1 + trailing u2
    assert out[9]["au_1"] == 1 and out[9]["au_7"] == 1   # day-0 out of reach
    import pytest as _p
    with _p.raises(ValueError):
        active_users(df, "ts", "user_id", windows=())
    with _p.raises(ValueError):
        active_users(df, "ts", "user_id", windows=(0,))
