"""PIT join (cdc), Mahalanobis outliers (profile), conversion latency."""

from __future__ import annotations

import datetime as dt

import pytest

from bid_evaluation_ext.operators.cdc import pit_join, scd2_history
from bid_evaluation_ext.operators.profile import mahalanobis_outliers
from bid_evaluation_ext.streaming.events import conversion_latency


def test_pit_join_picks_version_valid_at_fact_time(spark):
    hist = spark.createDataFrame(
        [("k1", "A", 1, 5), ("k1", "B", 5, 9), ("k1", "C", 9, None)],
        "k string, attr string, valid_from long, valid_to long")
    facts = spark.createDataFrame(
        [("k1", 0), ("k1", 1), ("k1", 5), ("k1", 8), ("k1", 100),
         ("k2", 3)],
        "k string, fts long")
    out = {r["fts"]: r for r in
           pit_join(facts, hist, ["k"], "fts").collect()
           if r["k"] == "k1"}
    assert out[0]["attr"] is None          # before first version
    assert out[1]["attr"] == "A"           # valid_from inclusive
    assert out[5]["attr"] == "B"           # boundary: [5,9)
    assert out[8]["attr"] == "B"
    assert out[100]["attr"] == "C"         # open current version
    allrows = pit_join(facts, hist, ["k"], "fts").collect()
    k2 = [r for r in allrows if r["k"] == "k2"]
    assert len(k2) == 1 and k2[0]["attr"] is None  # missing key kept
    inner = pit_join(facts, hist, ["k"], "fts", how="inner").count()
    assert inner == 4


def test_pit_join_against_scd2_history(spark):
    log = spark.createDataFrame(
        [("k", 1, 1, "A"), ("k", 3, 2, "B"), ("k", 7, 3, "A")],
        "k string, ts long, id long, attr string")
    hist = scd2_history(log, ["k"], "ts", ["attr"], "id")
    facts = spark.createDataFrame([("k", 2), ("k", 6), ("k", 7)],
                                  "k string, fts long")
    out = {r["fts"]: r["attr"] for r in
           pit_join(facts, hist, ["k"], "fts").collect()}
    assert out == {2: "A", 6: "B", 7: "A"}
    with pytest.raises(ValueError):
        pit_join(facts, hist, [], "fts")
    with pytest.raises(ValueError):
        pit_join(facts, hist, ["k"], "fts", how="full")


def test_mahalanobis_flags_correlation_breaker(spark):
    # y = x exactly except one point that is marginally normal but
    # violates the correlation
    rows = [("g", float(i), float(i)) for i in range(20)]
    rows.append(("g", 5.0, 15.0))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = mahalanobis_outliers(df, "g", "x", "y", top_k=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["x"], r["y"]) == (5.0, 15.0)
    assert r["d2"] > 9.21  # beyond the chi2_2 99% cut


def test_mahalanobis_degenerate_groups_omitted(spark):
    rows = [("tiny", 1.0, 2.0), ("tiny", 2.0, 3.0),          # n < 3
            ("flat", 1.0, 1.0), ("flat", 1.0, 2.0), ("flat", 1.0, 3.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    assert mahalanobis_outliers(df, "g", "x", "y").count() == 0
    with pytest.raises(ValueError):
        mahalanobis_outliers(df, "g", "x", "y", top_k=0)


def _ev(spark, rows):
    base = dt.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [(u, base + dt.timedelta(seconds=s), e) for u, s, e in rows],
        "user_id string, ts timestamp, event_type string")


def test_conversion_latency_quantiles(spark):
    rows = []
    # users converting with latencies 10, 20, 30, 40 s
    for i, lat in enumerate((10, 20, 30, 40)):
        rows += [(f"u{i}", 0, "view"), (f"u{i}", lat, "purchase")]
    rows += [("u9", 0, "view")]                     # never converts
    rows += [("u10", 50, "purchase")]               # no view: excluded
    out = conversion_latency(_ev(spark, rows), "view", "purchase",
                             horizon_seconds=3600).collect()[0]
    assert out["n_from"] == 5 and out["n_converted"] == 4
    assert out["conv_rate"] == pytest.approx(0.8, abs=1e-9)
    assert out["p50_s"] == pytest.approx(25.0, abs=1e-6)
    assert out["p90_s"] == pytest.approx(37.0, abs=1e-6)


def test_conversion_latency_horizon_and_prior_purchase(spark):
    rows = [("u1", 100, "purchase"),   # BEFORE first view: not counted
            ("u1", 200, "view"), ("u1", 200, "purchase"),  # same-ts: 0 s
            ("u2", 0, "view"), ("u2", 5000, "purchase")]   # outside horizon
    out = conversion_latency(_ev(spark, rows), "view", "purchase",
                             horizon_seconds=1000).collect()[0]
    assert out["n_from"] == 2 and out["n_converted"] == 1
    assert out["p50_s"] == pytest.approx(0.0, abs=1e-9)
    with pytest.raises(ValueError):
        conversion_latency(_ev(spark, rows), "a", "b", horizon_seconds=0)
