"""Join-size estimate, period-over-period, cohort LTV, Huber mean."""

from __future__ import annotations

import datetime as dt

import pytest

from bid_evaluation_ext.operators.analytics import huber_mean_by_group
from bid_evaluation_ext.operators.dq import join_size_estimate
from bid_evaluation_ext.operators.timeseries import (cohort_ltv,
                                                       period_over_period)


def test_join_size_estimate_exact(spark):
    left = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], "k long")
    right = spark.createDataFrame(
        [(1,), (1,), (1,), (3,), (9,), (None,)], "k long")
    r = join_size_estimate(left, right, "k", "k").collect()[0]
    assert r["n_left"] == 5 and r["n_right"] == 6
    assert r["n_keys_left"] == 3 and r["n_keys_right"] == 3
    assert r["n_keys_common"] == 2
    # key 1: 2*3 = 6; key 3: 1*1 = 1 -> 7 total, max 6
    assert r["join_rows"] == 7 and r["max_key_rows"] == 6
    # verify against the actual join
    actual = left.join(right, "k").count()
    assert actual == r["join_rows"]


def _ts(day, hour=0):
    return dt.datetime(2026, 1, day, hour)


def test_period_over_period_weekly(spark):
    rows = [("k", _ts(5), 10.0), ("k", _ts(6), 5.0),    # week of Jan 5
            ("k", _ts(12), 30.0),                        # next week
            ("k", _ts(26), 40.0)]                        # gap week skipped
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = sorted(period_over_period(df, "g", "ts", "v", "week").collect(),
                 key=lambda r: r["period_start"])
    assert [r["total"] for r in out] == [15.0, 30.0, 40.0]
    assert out[0]["prev_total"] is None and out[0]["pct_change"] is None
    assert out[1]["change"] == 15.0 and out[1]["pct_change"] == 100.0
    # previous EXISTING bucket, across the gap
    assert out[2]["prev_total"] == 30.0
    assert out[2]["pct_change"] == pytest.approx(100 * 10 / 30, abs=1e-3)


def test_cohort_ltv_curve(spark):
    rows = [  # cohort week W0: u1 spends 10 then 20 next week
        ("u1", _ts(5), 10.0), ("u1", _ts(12), 20.0),
        ("u2", _ts(5), 30.0),                      # same cohort, week 0 only
        ("u3", _ts(12), 5.0)]                      # later cohort
    df = spark.createDataFrame(rows, "u string, ts timestamp, v double")
    out = {(r["cohort"].day, r["age"]): r for r in
           cohort_ltv(df, "ts", "u", "v", max_age=4).collect()}
    c0a0 = out[(5, 0)]
    assert c0a0["n_users"] == 2 and c0a0["period_value"] == 40.0
    assert c0a0["cum_per_user"] == 20.0
    c0a1 = out[(5, 1)]
    assert c0a1["cum_value"] == 60.0 and c0a1["cum_per_user"] == 30.0
    assert out[(12, 0)]["n_users"] == 1
    with pytest.raises(ValueError):
        cohort_ltv(df, "ts", "u", "v", max_age=-1)
    with pytest.raises(ValueError):
        cohort_ltv(df, "ts", "u", "v", period="month")


def test_huber_mean_downweights_outlier(spark):
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 1000.0]
    df = spark.createDataFrame([("g", v) for v in vals],
                               "g string, v double")
    r = huber_mean_by_group(df, "g", "v").collect()[0]
    plain_mean = sum(vals) / len(vals)            # ~133.75
    assert r["huber_mean"] < 15                   # outlier neutralized
    assert abs(r["huber_mean"] - 10.0) < 1.5
    assert r["huber_mean"] != r["median"]         # but not just the median
    assert plain_mean > 100


def test_huber_kernel_matches_join_engine(spark):
    """r12 opt: the one-pass partition kernel (default) must agree with
    the unrolled join engine on a messy corpus — many groups of odd and
    even sizes (both percentile interpolation branches), zero-MAD
    groups, singletons, nulls excluded — at the operator's 4-decimal
    output contract."""
    import random
    rnd = random.Random(44)
    rows = []
    for g in range(12):
        n = rnd.randint(1, 60)
        for _ in range(n):
            v = rnd.choice([rnd.uniform(0, 100), 5.0])  # ties -> MAD 0
            rows.append((f"g{g}", v))
    rows += [(None, 1.0), ("g0", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    fast = sorted(map(tuple, huber_mean_by_group(
        df, "g", "v", engine="kernel").collect()))
    slow = sorted(map(tuple, huber_mean_by_group(
        df, "g", "v", engine="join").collect()))
    assert fast == slow
    with pytest.raises(ValueError):
        huber_mean_by_group(df, "g", "v", engine="bogus")


def test_huber_mean_zero_mad_returns_median(spark):
    df = spark.createDataFrame([("g", 5.0)] * 6 + [("g", 99.0)],
                               "g string, v double")
    r = huber_mean_by_group(df, "g", "v").collect()[0]
    assert r["scale"] is None and r["huber_mean"] == 5.0
    with pytest.raises(ValueError):
        huber_mean_by_group(df, "g", "v", n_rounds=0)
    with pytest.raises(ValueError):
        huber_mean_by_group(df, "g", "v", c=0)
