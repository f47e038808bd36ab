"""Changepoint detection (timeseries) + session path mining (events)."""

from __future__ import annotations

import datetime as dt

import pytest

from bid_evaluation_ext.operators.timeseries import changepoint_by_key
from bid_evaluation_ext.streaming.events import top_paths


def _series(spark, vals, key="k"):
    rows = [(key, i, float(v)) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "k string, t long, v double")


def test_changepoint_finds_obvious_shift(spark):
    df = _series(spark, [0.0] * 10 + [5.0] * 10)
    r = changepoint_by_key(df, "k", ["t"], "v").collect()[0]
    assert r["split_after"] == 10
    assert r["mean_left"] == pytest.approx(0.0, abs=1e-9)
    assert r["mean_right"] == pytest.approx(5.0, abs=1e-9)
    # gain = SST here (perfect split): n/4 * (diff)^2 * ... just check > 0
    assert r["gain"] == pytest.approx(20 * (2.5 ** 2), abs=1e-3)


def test_changepoint_matches_bruteforce(spark):
    vals = [1.0, 2.0, 1.5, 8.0, 9.0, 8.5, 9.5, 2.0, 1.0]
    df = _series(spark, vals)
    r = changepoint_by_key(df, "k", ["t"], "v", min_seg=2).collect()[0]

    def sse(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs)

    n = len(vals)
    gains = {t: sse(vals) - sse(vals[:t]) - sse(vals[t:])
             for t in range(2, n - 1)}
    best = max(gains, key=lambda t: (round(gains[t], 6), -t))
    assert r["split_after"] == best
    assert r["gain"] == pytest.approx(gains[best], abs=1e-3)


def test_changepoint_flat_series_ties_to_smallest_t(spark):
    df = _series(spark, [3.0] * 8)
    r = changepoint_by_key(df, "k", ["t"], "v").collect()[0]
    assert r["gain"] == pytest.approx(0.0, abs=1e-9)
    assert r["split_after"] == 2  # all gains 0 -> smallest valid t


def test_changepoint_short_series_omitted(spark):
    df = _series(spark, [1.0, 2.0, 3.0])
    assert changepoint_by_key(df, "k", ["t"], "v", min_seg=2).count() == 0
    with pytest.raises(ValueError):
        changepoint_by_key(df, "k", ["t"], "v", min_seg=0)


def _ev(spark, rows):
    base = dt.datetime(2026, 1, 1)
    data = [(u, base + dt.timedelta(seconds=s), e, i)
            for i, (u, s, e) in enumerate(rows)]
    return spark.createDataFrame(
        data, "user_id string, ts timestamp, event_type string, event_id long")


def test_top_paths_counts_and_order(spark):
    rows = ([("u1", 0, "view"), ("u1", 10, "click"), ("u1", 20, "buy")]
            + [("u2", 0, "view"), ("u2", 5, "click"), ("u2", 9, "buy")]
            + [("u3", 0, "view"), ("u3", 3, "exit")])
    out = top_paths(_ev(spark, rows), gap_seconds=1800, max_len=5,
                    k=10).collect()
    by = {r["path"]: r for r in out}
    assert by["view>click>buy"]["n_sessions"] == 2
    assert by["view>click>buy"]["rnk"] == 1
    assert by["view>exit"]["n_sessions"] == 1


def test_top_paths_gap_splits_sessions(spark):
    rows = [("u", 0, "a"), ("u", 10, "b"),
            ("u", 4000, "a"), ("u", 4010, "b")]  # second session
    out = top_paths(_ev(spark, rows), gap_seconds=1800).collect()
    assert out[0]["path"] == "a>b" and out[0]["n_sessions"] == 2


def test_top_paths_truncates_to_max_len(spark):
    rows = [("u", i, c) for i, c in enumerate("abcdefg")]
    out = top_paths(_ev(spark, rows), max_len=3).collect()
    assert out[0]["path"] == "a>b>c"


def test_top_paths_tie_breaks_on_path(spark):
    rows = [("u1", 0, "b"), ("u2", 0, "a")]
    out = sorted(top_paths(_ev(spark, rows)).collect(),
                 key=lambda r: r["rnk"])
    assert [r["path"] for r in out] == ["a", "b"]
    with pytest.raises(ValueError):
        top_paths(_ev(spark, rows), k=0)


def test_dominant_period_detects_sawtooth(spark):
    from bid_evaluation_ext.operators.timeseries import dominant_period

    vals = [0.0, 1.0, 2.0, 3.0] * 10  # period 4
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    r = dominant_period(df, "k", ["t"], "v", max_lag=6).collect()[0]
    assert r["lag"] == 4
    assert r["acf"] > 0.9
    import pytest as _p
    with _p.raises(ValueError):
        dominant_period(df, "k", ["t"], "v", max_lag=0)
