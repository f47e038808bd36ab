"""time_bucket / bucket_aggregate / gapfill semantics."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.timeseries import (
    bucket_aggregate, gapfill, time_bucket)


@pytest.fixture
def series(spark):
    # key "a": buckets 0, 1, 4 observed (gap at 2, 3); key "b": bucket 2 only
    rows = [
        ("a", 5.0, 10.0),     # bucket 0
        ("a", 8.0, 14.0),     # bucket 0 (avg 12.0)
        ("a", 15.0, 20.0),    # bucket 1
        ("a", 45.0, 60.0),    # bucket 4
        ("b", 25.0, 7.0),     # bucket 2
    ]
    return spark.createDataFrame(rows, "k string, ts double, value double")


def rows_of(df, keys=("k", "bucket")):
    return {tuple(r[c] for c in keys): r.asDict() for r in df.collect()}


def test_time_bucket_validation(spark):
    with pytest.raises(ValueError):
        time_bucket(F.col("x"), 0)


def test_bucket_aggregate(series):
    out = rows_of(bucket_aggregate(series, "ts", "k", "value", width=10.0))
    assert out[("a", 0)]["value"] == 12.0 and out[("a", 0)]["n_rows"] == 2
    assert out[("a", 1)]["value"] == 20.0
    assert len(out) == 4
    with pytest.raises(ValueError):
        bucket_aggregate(series, "ts", "k", "value", 10.0, agg="median")


def test_gapfill_densifies_and_marks_gaps(series):
    out = rows_of(gapfill(series, "ts", "k", "value", width=10.0, fill="none"))
    # key a: buckets 0..4 (5 rows), key b: bucket 2 only
    assert sorted(b for k, b in out if k == "a") == [0, 1, 2, 3, 4]
    assert sorted(b for k, b in out if k == "b") == [2]
    assert out[("a", 2)]["is_gap"] and out[("a", 2)]["value"] is None
    assert not out[("a", 1)]["is_gap"]


def test_gapfill_zero_and_locf(series):
    zero = rows_of(gapfill(series, "ts", "k", "value", 10.0, fill="zero",
                           fill_value=-1.0))
    assert zero[("a", 3)]["value"] == -1.0
    locf = rows_of(gapfill(series, "ts", "k", "value", 10.0, fill="locf"))
    assert locf[("a", 2)]["value"] == 20.0
    assert locf[("a", 3)]["value"] == 20.0
    assert locf[("a", 4)]["value"] == 60.0  # observed rows untouched


def test_gapfill_linear_interpolates(series):
    out = rows_of(gapfill(series, "ts", "k", "value", 10.0, fill="linear"))
    # between (1, 20.0) and (4, 60.0): bucket 2 → 33.33..., bucket 3 → 46.66...
    assert out[("a", 2)]["value"] == pytest.approx(20.0 + 40.0 / 3)
    assert out[("a", 3)]["value"] == pytest.approx(20.0 + 80.0 / 3)
    assert out[("a", 0)]["value"] == 12.0


def test_gapfill_linear_edges_carry_nearest(spark):
    # leading + trailing gaps relative to a middle observation pair
    df = spark.createDataFrame(
        [("a", 15.0, 10.0), ("a", 25.0, 30.0)], "k string, ts double, value double")
    # force a wider grid by unioning a second key spanning buckets 0..4
    other = spark.createDataFrame(
        [("z", 5.0, 1.0), ("z", 45.0, 1.0)], "k string, ts double, value double")
    out = rows_of(gapfill(df.union(other), "ts", "k", "value", 10.0,
                          fill="linear"))
    assert out[("z", 2)]["value"] == 1.0  # interior interp between equal endpoints
    # key a has no leading/trailing gaps (its own span is tight) — buckets 1..2
    assert sorted(b for k, b in out if k == "a") == [1, 2]


def test_gapfill_locf_leading_gap_stays_null(spark):
    df = spark.createDataFrame(
        [("a", 5.0, None), ("a", 15.0, 4.0)], "k string, ts double, value double")
    out = rows_of(gapfill(df, "ts", "k", "value", 10.0, fill="locf"))
    # bucket 0 observed but all-null values: avg=None, not a gap; locf has
    # nothing earlier to carry
    assert out[("a", 0)]["value"] is None
    assert not out[("a", 0)]["is_gap"]


def test_gapfill_span_guard(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 1.0), ("a", 1e9, 2.0)], "k string, ts double, value double")
    with pytest.raises(Exception, match="span exceeds"):
        gapfill(df, "ts", "k", "value", 1.0, fill="none",
                grid_max_buckets=1000).collect()
    # and passes with the guard off at a coarse width
    assert gapfill(df, "ts", "k", "value", 1e9, fill="none").count() == 2


def test_gapfill_fill_validation(series):
    with pytest.raises(ValueError):
        gapfill(series, "ts", "k", "value", 10.0, fill="spline")


def test_retention_cohorts_golden(spark):
    from bid_evaluation_ext.operators.timeseries import retention_cohorts
    from datetime import datetime

    def t(day):
        return datetime(2024, 1, 1 + day)

    # bucket = 2 days; users: A starts bucket 0 active 0,1; B starts 0
    # active 0 only; C starts bucket 1 active 1,2; null user/ts dropped
    rows = [("A", t(0)), ("A", t(1)), ("A", t(2)),      # buckets 0,0,1
            ("B", t(0)),
            ("C", t(2)), ("C", t(3)), ("C", t(4)),      # buckets 1,1,2
            (None, t(0)), ("D", None)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = retention_cohorts(df, bucket_seconds=172800.0)
    got = {(r["cohort_bucket"] - min(x["cohort_bucket"] for x in out.collect()),
            r["offset"]): (r["n_active"], r["cohort_size"],
                           round(r["retention"], 4))
           for r in out.collect()}
    assert got[(0, 0)] == (2, 2, 1.0)       # A+B in cohort 0
    assert got[(0, 1)] == (1, 2, 0.5)       # only A returns
    assert got[(1, 0)] == (1, 1, 1.0)       # C
    assert got[(1, 1)] == (1, 1, 1.0)       # C returns next bucket
    assert len(got) == 4
    with pytest.raises(ValueError, match="bucket_seconds"):
        retention_cohorts(df, bucket_seconds=0)


class TestConcurrencyTimeline:
    def _brute(self, intervals):
        """Concurrency at each boundary: #intervals with s <= t <= e."""
        ts = sorted({t for s, e in intervals for t in (s, e)})
        return {t: sum(1 for s, e in intervals if s <= t <= e) for t in ts}

    def test_crafted_and_random(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            concurrency_timeline)
        import random

        crafted = [(0.0, 10.0), (5.0, 15.0), (10.0, 20.0),  # chain overlap
                   (10.0, 10.0),                            # zero-length
                   (30.0, 40.0)]                            # isolated
        rng = random.Random(23)
        rand = []
        for _ in range(200):
            s = float(rng.randint(0, 100))
            rand.append((s, s + rng.randint(0, 20)))
        for intervals, buckets in ((crafted, 4), (rand, 1), (rand, 16)):
            df = spark.createDataFrame(intervals, "s double, e double")
            got = {r["ts"]: r["concurrency"]
                   for r in concurrency_timeline(df, "s", "e",
                                                 buckets=buckets).collect()}
            assert got == self._brute(intervals)

    def test_invalid_rows_dropped(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            concurrency_timeline)

        df = spark.createDataFrame(
            [(0.0, 5.0), (9.0, 1.0), (None, 3.0), (2.0, None)],
            "s double, e double")
        got = {r["ts"]: r["concurrency"]
               for r in concurrency_timeline(df, "s", "e").collect()}
        assert got == {0.0: 1, 5.0: 1}


class TestMergeIntervals:
    def _brute(self, intervals):
        """Merge closed intervals: sort, sweep, touching counts as overlap."""
        out = []
        for s, e in sorted(intervals):
            if out and s <= out[-1][1]:
                out[-1][1] = max(out[-1][1], e)
                out[-1][2] += 1
            else:
                out.append([s, e, 1])
        return sorted((s, e, n) for s, e, n in out)

    def test_crafted_and_random(self, spark):
        from bid_evaluation_ext.operators.timeseries import merge_intervals
        import random

        crafted = {"a": [(0.0, 5.0), (5.0, 9.0),       # touching -> merge
                         (20.0, 30.0), (22.0, 25.0),   # contained
                         (40.0, 41.0)],                # isolated
                   "b": [(1.0, 2.0)]}
        rng = random.Random(31)
        rand = {"c": [(float(rng.randint(0, 200)),) * 1 +
                      (float(rng.randint(0, 200) + rng.randint(0, 30)),)
                      for _ in range(150)]}
        rand["c"] = [(s, max(s, e)) for s, e in rand["c"]]
        for data in (crafted, rand):
            rows = [(k, i, s, e) for k, ivs in data.items()
                    for i, (s, e) in enumerate(ivs)]
            df = spark.createDataFrame(rows, "k string, i long, s double, e double")
            got = {}
            for r in merge_intervals(df, "k", "s", "e",
                                     tiebreak_col="i").collect():
                got.setdefault(r["k"], []).append((r["s"], r["e"], r["n_merged"]))
            for k, ivs in data.items():
                assert sorted(got[k]) == self._brute(ivs), k

    def test_invalid_rows_dropped(self, spark):
        from bid_evaluation_ext.operators.timeseries import merge_intervals

        df = spark.createDataFrame(
            [("a", 0.0, 5.0), ("a", 9.0, 1.0), ("a", None, 3.0)],
            "k string, s double, e double")
        got = merge_intervals(df, "k", "s", "e").collect()
        assert [(r["s"], r["e"], r["n_merged"]) for r in got] == [(0.0, 5.0, 1)]


def test_ewma_by_key(spark):
    """EWMA recurrence vs a python replay; nulls excluded; bad alpha."""
    import pytest as _pytest

    from bid_evaluation_ext.operators.timeseries import ewma_by_key

    rows = [(1, float(i), i, v) for i, v in
            enumerate([10.0, 20.0, 5.0, None, 40.0])]
    rows += [(2, 0.0, 99, 7.0)]
    df = spark.createDataFrame(rows, "k long, ts double, tb long, v double")
    got = {(r["k"], r["tb"]): r["ewma"]
           for r in ewma_by_key(df, "k", "ts", "v", "tb",
                                alpha=0.5).collect()}
    s = None
    want = {}
    for i, v in enumerate([10.0, 20.0, 5.0, None, 40.0]):
        if v is None:
            continue
        s = v if s is None else 0.5 * v + 0.5 * s
        want[(1, i)] = s
    want[(2, 99)] = 7.0
    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], key
    with _pytest.raises(ValueError, match="alpha"):
        ewma_by_key(df, "k", "ts", "v", "tb", alpha=0.0)


def test_streaming_ewma_matches_batch(spark, tmp_path):
    """The streaming EWMA must equal the batch operator when batches
    arrive in time order — one double of state crosses the boundary."""
    import time as _time

    from bid_evaluation_ext.operators.timeseries import ewma_by_key
    from bid_evaluation_ext.streaming.stateful import streaming_ewma_by_key

    schema = "user_id long, ts double, event_id long, value double"
    rows = [(1, float(i), i, float(v)) for i, v in
            enumerate([10, 20, 5, 40, 15, 30])]
    rows += [(2, 0.0, 50, 7.0), (2, 9.0, 51, 9.0)]
    cut = 2.5
    b1 = [r for r in rows if r[1] <= cut]
    b2 = [r for r in rows if r[1] > cut]
    src = str(tmp_path / "ewma_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/batch=0")
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/batch=1")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (streaming_ewma_by_key(stream, alpha=0.5)
         .writeStream.format("memory").queryName("ewma_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["key"], r["tiebreak"]): r["ewma"]
           for r in spark.sql("SELECT * FROM ewma_smoke").collect()}
    batch = {(r["user_id"], r["event_id"]): r["ewma"]
             for r in ewma_by_key(spark.createDataFrame(rows, schema),
                                  "user_id", "ts", "value", "event_id",
                                  alpha=0.5).collect()}
    assert got == batch


class TestCusumByKey:
    def _events(self, spark, vals, key="u"):
        rows = [(key, float(i), i, float(v)) for i, v in enumerate(vals)]
        return spark.createDataFrame(
            rows, "k string, ts double, eid long, v double")

    def test_known_recurrence(self, spark):
        from bid_evaluation_ext.operators.timeseries import cusum_by_key

        # target 10, slack 1: x-11 on the upside, 9-x on the downside
        df = self._events(spark, [10, 14, 14, 6, 6, 6])
        out = {r["eid"]: r for r in cusum_by_key(
            df, "k", "ts", "v", "eid", target=10.0, slack=1.0,
            threshold=4.0).collect()}
        # sp: 0, 3, 6, 1, 0, 0 ; sn: 0, 0, 0, 3, 6, 9
        assert [out[i]["cusum_pos"] for i in range(6)] == \
            [0.0, 3.0, 6.0, 1.0, 0.0, 0.0]
        assert [out[i]["cusum_neg"] for i in range(6)] == \
            [0.0, 0.0, 0.0, 3.0, 6.0, 9.0]
        assert [out[i]["alarm"] for i in range(6)] == \
            [False, False, True, False, True, True]

    def test_in_control_stays_flat(self, spark):
        from bid_evaluation_ext.operators.timeseries import cusum_by_key

        df = self._events(spark, [10.0, 10.4, 9.7, 10.2, 9.9] * 4)
        out = cusum_by_key(df, "k", "ts", "v", "eid",
                           target=10.0, slack=1.0).collect()
        assert all(not r["alarm"] for r in out)
        assert all(r["cusum_pos"] == 0.0 and r["cusum_neg"] == 0.0
                   for r in out)

    def test_small_persistent_shift_alarms(self, spark):
        from bid_evaluation_ext.operators.timeseries import cusum_by_key

        # +2 shift, under the slack+z radar per-point, accumulates
        df = self._events(spark, [10.0] * 5 + [12.0] * 20)
        out = sorted(cusum_by_key(df, "k", "ts", "v", "eid",
                                  target=10.0, slack=0.5,
                                  threshold=10.0).collect(),
                     key=lambda r: r["eid"])
        assert not out[4]["alarm"] and out[-1]["alarm"]

    def test_keys_independent_and_validation(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.operators.timeseries import cusum_by_key

        a = self._events(spark, [100.0] * 3, key="a")
        b = self._events(spark, [0.0] * 3, key="b")
        out = {(r["k"], r["eid"]): r for r in cusum_by_key(
            a.union(b), "k", "ts", "v", "eid", target=10.0,
            slack=1.0).collect()}
        assert out[("a", 2)]["cusum_pos"] > 0 and \
            out[("a", 2)]["cusum_neg"] == 0.0
        assert out[("b", 2)]["cusum_neg"] > 0 and \
            out[("b", 2)]["cusum_pos"] == 0.0
        with _pt.raises(ValueError):
            cusum_by_key(a, "k", "ts", "v", "eid", target=1.0, slack=-1)
        with _pt.raises(ValueError):
            cusum_by_key(a, "k", "ts", "v", "eid", target=1.0, threshold=0)


def test_streaming_cusum_matches_batch(spark, tmp_path):
    """The streaming CUSUM must equal the batch operator when batches
    arrive in time order — two doubles of state cross the boundary."""
    import time as _time

    from bid_evaluation_ext.operators.timeseries import cusum_by_key
    from bid_evaluation_ext.streaming.stateful import (
        streaming_cusum_by_key)

    schema = "user_id long, ts double, event_id long, value double"
    rows = [(1, float(i), i, float(v)) for i, v in
            enumerate([10, 14, 14, 6, 6, 6, 15, 15])]
    rows += [(2, 0.0, 50, 30.0), (2, 9.0, 51, 1.0)]
    cut = 3.5
    b1 = [r for r in rows if r[1] <= cut]
    b2 = [r for r in rows if r[1] > cut]
    src = str(tmp_path / "cusum_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        f"{src}/batch=0")
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        f"{src}/batch=1")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (streaming_cusum_by_key(stream, target=10.0, slack=1.0,
                                threshold=4.0)
         .writeStream.format("memory").queryName("cusum_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["key"], r["tiebreak"]): (r["cusum_pos"], r["cusum_neg"],
                                       r["alarm"])
           for r in spark.sql("SELECT * FROM cusum_smoke").collect()}
    batch = {(r["user_id"], r["event_id"]): (r["cusum_pos"], r["cusum_neg"],
                                             r["alarm"])
             for r in cusum_by_key(spark.createDataFrame(rows, schema),
                                   "user_id", "ts", "value", "event_id",
                                   target=10.0, slack=1.0,
                                   threshold=4.0).collect()}
    assert got == batch


class TestSeasonalNaiveBacktest:
    def test_known_values(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            seasonal_naive_backtest)

        # season 2 over [1,2,3,4,5,6]: forecasts 1,2,3,4 for rows 3..6
        rows = [("u", float(i), i, float(i + 1)) for i in range(6)]
        df = spark.createDataFrame(rows, "k string, ts double, eid long, "
                                         "v double")
        out = seasonal_naive_backtest(df, "k", "ts", "v", season=2,
                                      tiebreak_col="eid").collect()[0]
        assert out["n_eval"] == 4
        assert out["mae"] == pytest.approx(2.0)   # every error is 2
        assert out["mase"] == pytest.approx(2.0)  # naive errors are 1

    def test_perfectly_seasonal_series_scores_zero(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            seasonal_naive_backtest)

        pattern = [10.0, 20.0, 30.0]
        rows = [("u", float(i), i, pattern[i % 3]) for i in range(12)]
        df = spark.createDataFrame(rows, "k string, ts double, eid long, "
                                         "v double")
        out = seasonal_naive_backtest(df, "k", "ts", "v", season=3,
                                      tiebreak_col="eid").collect()[0]
        assert out["mae"] == 0.0 and out["mase"] == 0.0

    def test_short_and_constant_keys(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.operators.timeseries import (
            seasonal_naive_backtest)

        rows = ([("short", float(i), i, float(i)) for i in range(2)]
                + [("const", float(i), i, 5.0) for i in range(10)])
        df = spark.createDataFrame(rows, "k string, ts double, eid long, "
                                         "v double")
        out = {r["k"]: r for r in seasonal_naive_backtest(
            df, "k", "ts", "v", season=3, tiebreak_col="eid").collect()}
        assert out["short"]["n_eval"] == 0 and out["short"]["mae"] is None
        assert out["const"]["mae"] == 0.0
        assert out["const"]["mase"] is None   # naive denominator 0, not inf
        with _pt.raises(ValueError):
            seasonal_naive_backtest(df, "k", "ts", "v", season=0,
                                    tiebreak_col="eid")


class TestEventTransitions:
    def _chain(self, spark, seq, key="u"):
        rows = [(key, float(i), i, s) for i, s in enumerate(seq)]
        return spark.createDataFrame(
            rows, "k string, ts double, eid long, state string")

    def test_known_counts_and_probs(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            event_transitions)

        df = self._chain(spark, ["a", "b", "a", "b", "b"])
        out = {(r["from_state"], r["to_state"]): r
               for r in event_transitions(df, "k", "ts", "state",
                                          "eid").collect()}
        assert out[("a", "b")]["n"] == 2
        assert out[("a", "b")]["p"] == pytest.approx(1.0)   # a always -> b
        assert out[("b", "a")]["p"] == pytest.approx(0.5)
        assert out[("b", "b")]["p"] == pytest.approx(0.5)
        assert ("b", None) not in out

    def test_no_cross_key_transitions(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            event_transitions)

        a = self._chain(spark, ["x", "x"], key="a")
        b = self._chain(spark, ["y", "y"], key="b")
        out = {(r["from_state"], r["to_state"])
               for r in event_transitions(a.union(b), "k", "ts", "state",
                                          "eid").collect()}
        assert out == {("x", "x"), ("y", "y")}

    def test_entropy_rate_extremes(self, spark):
        import math

        from bid_evaluation_ext.operators.timeseries import (
            event_transitions, transition_entropy_rate)

        # deterministic cycle -> entropy 0
        det = self._chain(spark, ["a", "b", "a", "b", "a", "b"])
        h0 = transition_entropy_rate(
            event_transitions(det, "k", "ts", "state", "eid")).collect()[0]
        assert h0["entropy_rate"] == pytest.approx(0.0)
        # perfectly alternating 2-way split from one state: ln 2
        mix = self._chain(spark, ["s", "a", "s", "b", "s", "a", "s", "b"])
        h1 = transition_entropy_rate(
            event_transitions(mix, "k", "ts", "state", "eid")).collect()[0]
        # from 's': p(a)=p(b)=.5 -> ln2; from a/b: deterministic 's' -> 0
        # pi weights: 's' has 4 outgoing of 7
        want = (4 / 7) * math.log(2)
        assert h1["entropy_rate"] == pytest.approx(want, rel=1e-9)


class TestKaplanMeier:
    def test_textbook_curve(self, spark):
        """Classic small example: events at 1, 3; censor at 2."""
        from bid_evaluation_ext.operators.timeseries import kaplan_meier

        rows = [(1.0, True), (2.0, False), (3.0, True), (3.0, True),
                (4.0, False)]
        df = spark.createDataFrame(rows, "dur double, ev boolean")
        out = {r["duration"]: r for r in
               kaplan_meier(df, "dur", "ev").collect()}
        # t=1: n=5, d=1 -> S=4/5
        assert out[1.0]["n_risk"] == 5
        assert out[1.0]["survival"] == pytest.approx(0.8)
        # t=2: censor only -> S unchanged
        assert out[2.0]["n_event"] == 0
        assert out[2.0]["survival"] == pytest.approx(0.8)
        # t=3: n=3, d=2 -> S = 0.8 * 1/3
        assert out[3.0]["survival"] == pytest.approx(0.8 / 3)
        # t=4: censor; survival flat
        assert out[4.0]["survival"] == pytest.approx(0.8 / 3)

    def test_no_censoring_matches_empirical(self, spark):
        from bid_evaluation_ext.operators.timeseries import kaplan_meier

        durs = [1.0, 2.0, 2.0, 3.0, 5.0]
        df = spark.createDataFrame([(d, True) for d in durs],
                                   "dur double, ev boolean")
        out = {r["duration"]: r["survival"]
               for r in kaplan_meier(df, "dur", "ev").collect()}
        # without censoring KM == empirical survivor function
        assert out[2.0] == pytest.approx(2 / 5)
        assert out[5.0] == pytest.approx(0.0)  # risk set exhausts exactly

    def test_monotone_nonincreasing(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.timeseries import kaplan_meier

        rng = np.random.RandomState(4)
        rows = [(float(rng.randint(1, 30)), bool(rng.rand() < 0.7))
                for _ in range(300)]
        df = spark.createDataFrame(rows, "dur double, ev boolean")
        curve = sorted(kaplan_meier(df, "dur", "ev").collect(),
                       key=lambda r: r["duration"])
        surv = [r["survival"] for r in curve]
        assert all(a >= b - 1e-12 for a, b in zip(surv, surv[1:]))
        assert all(0.0 <= s <= 1.0 for s in surv)


class TestKmSummary:
    def test_known_curve(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            kaplan_meier, km_summary)

        # no censoring, durations 1..4: S = .75, .5, .25, 0
        df = spark.createDataFrame([(float(d), True) for d in (1, 2, 3, 4)],
                                   "dur double, ev boolean")
        out = km_summary(kaplan_meier(df, "dur", "ev"),
                         horizon=4.0).collect()[0]
        assert out["median_survival"] == 2.0   # first S <= 0.5
        # RMST = 1·(1-0) + .75·(2-1) + .5·(3-2) + .25·(4-3) = 2.5
        assert out["rmst"] == pytest.approx(2.5)

    def test_heavy_censoring_median_null_rmst_defined(self, spark):
        from bid_evaluation_ext.operators.timeseries import (
            kaplan_meier, km_summary)

        # one early event among many censored: S never reaches 0.5
        rows = [(1.0, True)] + [(float(d), False) for d in range(2, 12)]
        df = spark.createDataFrame(rows, "dur double, ev boolean")
        out = km_summary(kaplan_meier(df, "dur", "ev"),
                         horizon=10.0).collect()[0]
        assert out["median_survival"] is None
        assert 8.0 < out["rmst"] <= 10.0
        import pytest as _pt
        with _pt.raises(ValueError):
            km_summary(kaplan_meier(df, "dur", "ev"), horizon=0)


class TestAcfByKey:
    def _acf(self, spark, rows, lags=(1, 2)):
        from bid_evaluation_ext.operators.timeseries import acf_by_key

        df = spark.createDataFrame(rows, "k string, t long, v double")
        return {(r["k"], r["lag"]): (r["n_pairs"], r["acf"])
                for r in acf_by_key(df, "k", ["t"], "v", lags=lags)
                .collect()}

    def test_linear_series_is_perfectly_autocorrelated(self, spark):
        rows = [("a", t, float(t)) for t in range(6)]
        out = self._acf(spark, rows)
        assert out[("a", 1)] == (5, 1.0)
        assert out[("a", 2)] == (4, 1.0)

    def test_alternating_series_signs(self, spark):
        rows = [("a", t, 1.0 if t % 2 == 0 else -1.0) for t in range(8)]
        out = self._acf(spark, rows)
        assert out[("a", 1)] == (7, -1.0)
        assert out[("a", 2)] == (6, 1.0)

    def test_constant_series_null_acf(self, spark):
        rows = [("a", t, 3.0) for t in range(5)]
        out = self._acf(spark, rows, lags=(1,))
        assert out[("a", 1)] == (4, None)

    def test_null_values_skipped_pairwise(self, spark):
        rows = [("a", 0, 1.0), ("a", 1, None), ("a", 2, 3.0),
                ("a", 3, 4.0)]
        out = self._acf(spark, rows, lags=(1,))
        # pairs: (3,None) dropped, (4,3) kept, (None,1) dropped → n=1,
        # single point has zero variance → null
        assert out[("a", 1)] == (1, None)

    def test_keys_independent(self, spark):
        rows = ([("a", t, float(t)) for t in range(5)]
                + [("b", t, float(-t)) for t in range(5)])
        out = self._acf(spark, rows, lags=(1,))
        assert out[("a", 1)] == (4, 1.0)
        assert out[("b", 1)] == (4, 1.0)

    def test_lag_validation(self, spark):
        import pytest as _pt
        with _pt.raises(ValueError):
            self._acf(spark, [("a", 0, 1.0)], lags=(0,))


class TestHoltByKey:
    def _holt(self, spark, vals, alpha=0.3, beta=0.1):
        from bid_evaluation_ext.operators.timeseries import holt_by_key

        rows = [("k", float(t), t, v) for t, v in enumerate(vals)]
        df = spark.createDataFrame(rows,
                                   "u string, ts double, e long, v double")
        out = holt_by_key(df, "u", "ts", "v", "e", alpha=alpha, beta=beta)
        return sorted(((r["e"], r["level"], r["trend"])
                       for r in out.collect()))

    def test_matches_python_reference(self, spark):
        vals = [10.0, 12.0, 11.0, 15.0]
        a, b = 0.3, 0.1
        lvl, tr, exp = None, None, []
        for x in vals:
            if lvl is None:
                lvl, tr = x, 0.0
            else:
                prev = lvl
                lvl = a * x + (1.0 - a) * (lvl + tr)
                tr = b * (lvl - prev) + (1.0 - b) * tr
            exp.append((lvl, tr))
        got = self._holt(spark, vals)
        for (e_id, l, t), (el, et) in zip(got, exp):
            assert l == el and t == et  # bit-exact: same fold

    def test_constant_series_flat(self, spark):
        got = self._holt(spark, [5.0] * 6)
        for _, l, t in got:
            assert l == 5.0 and t == 0.0

    def test_linear_series_learns_positive_trend(self, spark):
        got = self._holt(spark, [float(i) for i in range(20)])
        assert got[-1][2] > 0.5  # trend approaches slope 1

    def test_step_kernel_matches_sequential_many_keys(self, spark):
        """The r12 step-vectorized partition kernel must bit-match the
        per-key sequential fold on a messy corpus: many keys of varying
        length, null keys (one SQL group), ts ties broken by the
        tiebreak column, interleaved input order."""
        import random
        rnd = random.Random(712)
        rows = []
        for k in list(range(17)) + [None]:
            for t in range(rnd.randint(1, 25)):
                rows.append((k, float(t // 3),  # repeated ts -> tiebreak
                             len(rows), rnd.uniform(-50, 50)))
        rnd.shuffle(rows)
        df = spark.createDataFrame(rows, "u int, ts double, e long, v double")
        from bid_evaluation_ext.operators.timeseries import holt_by_key
        got = {r["e"]: (r["level"], r["trend"], r["forecast_next"])
               for r in holt_by_key(df, "u", "ts", "v", "e").collect()}
        a, b = 0.3, 0.1
        series = {}
        for k, ts, e, v in sorted(rows, key=lambda r: (r[1], r[2])):
            series.setdefault(k, []).append((e, v))
        assert len(got) == len(rows)
        for k, evs in series.items():
            lvl, tr = None, None
            for e, x in evs:
                if lvl is None:
                    lvl, tr = x, 0.0
                else:
                    prev = lvl
                    lvl = a * x + (1.0 - a) * (lvl + tr)
                    tr = b * (lvl - prev) + (1.0 - b) * tr
                assert got[e] == (lvl, tr, lvl + tr), (k, e)

    def test_nulls_excluded_and_validation(self, spark):
        from bid_evaluation_ext.operators.timeseries import holt_by_key

        df = spark.createDataFrame(
            [("k", 1.0, 1, None), ("k", 2.0, 2, 4.0)],
            "u string, ts double, e long, v double")
        out = holt_by_key(df, "u", "ts", "v", "e").collect()
        assert len(out) == 1 and out[0]["level"] == 4.0
        import pytest as _pt
        with _pt.raises(ValueError):
            holt_by_key(df, "u", "ts", "v", "e", alpha=0.0)
        with _pt.raises(ValueError):
            holt_by_key(df, "u", "ts", "v", "e", beta=1.5)


class TestTrendTest:
    def _tt(self, spark, rows):
        from bid_evaluation_ext.operators.timeseries import trend_test

        df = spark.createDataFrame(rows, "g string, x double, y double")
        return {r["g"]: r.asDict()
                for r in trend_test(df, "g", "x", "y").collect()}

    def test_monotone_series(self, spark):
        up = [("u", float(i), float(i * 2)) for i in range(6)]
        dn = [("d", float(i), float(-3 * i)) for i in range(6)]
        out = self._tt(spark, up + dn)
        assert out["u"]["s_stat"] == 15 and out["u"]["slope"] == 2.0
        assert out["u"]["z"] > 0
        assert out["d"]["s_stat"] == -15 and out["d"]["slope"] == -3.0
        assert out["d"]["z"] < 0
        assert out["u"]["n_pairs"] == 15

    def test_constant_series_full_ties(self, spark):
        out = self._tt(spark, [("c", float(i), 7.0) for i in range(5)])
        c = out["c"]
        # all slopes 0, S=0; tie correction kills the variance -> z null
        assert c["s_stat"] == 0 and c["slope"] == 0.0 and c["z"] is None

    def test_single_point_and_equal_x_skipped(self, spark):
        out = self._tt(spark, [("s", 1.0, 5.0)])
        assert out["s"]["n_pairs"] == 0 and out["s"]["slope"] is None
        out = self._tt(spark, [("e", 1.0, 5.0), ("e", 1.0, 9.0),
                               ("e", 2.0, 7.0)])
        assert out["e"]["n_pairs"] == 2  # the x-tied pair is skipped

    def test_outlier_resistant_vs_ols(self, spark):
        rows = [("o", float(i), float(i)) for i in range(10)]
        rows.append(("o", 10.0, 1000.0))   # gross outlier
        out = self._tt(spark, rows)
        assert out["o"]["slope"] == pytest.approx(1.0, abs=1e-4)

    def test_kernel_matches_join_engine(self, spark, monkeypatch):
        """r12 opt: the vectorized single-pass kernel must bit-match the
        pair self-join engine on a messy corpus — many groups of varying
        size, duplicate x (skipped pairs), y ties (variance correction),
        a null group (never equi-joins → 0 pairs), singleton groups,
        null x/y rows excluded — and the auto probe must route large
        inputs back to the join engine."""
        import random

        from bid_evaluation_ext.operators.timeseries import trend_test

        rnd = random.Random(98)
        rows = []
        for g in [f"g{i}" for i in range(9)] + [None]:
            for t in range(rnd.randint(1, 40)):
                rows.append((g, float(t // 3),  # duplicate x values
                             float(rnd.choice([rnd.uniform(-5, 5),
                                               1.0, 2.0]))))  # y ties
        rows += [("g0", None, 1.0), ("g1", 2.0, None)]
        df = spark.createDataFrame(rows, "g string, x double, y double")

        def run(**kw):
            return sorted(
                (r.asDict() for r in
                 trend_test(df, "g", "x", "y", **kw).collect()),
                key=lambda d: (d["g"] is None, d["g"]))

        want = run(engine="join")
        assert run(engine="kernel") == want
        assert run(engine="auto") == want
        monkeypatch.setenv("SPARK_GRAFT_TREND_LOCAL_MAX_PAIRS", "1")
        assert run(engine="auto") == want  # probe flips to join
        with pytest.raises(ValueError):
            trend_test(df, "g", "x", "y", engine="bogus")


class TestSeasonalDecompose:
    def _sd(self, spark, vals, period=3):
        from bid_evaluation_ext.operators.timeseries import (
            seasonal_decompose)

        rows = [("k", t, v) for t, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "g string, t long, v double")
        out = seasonal_decompose(df, "g", ["t"], "v", period=period)
        return sorted((r["t"], r.asDict()) for r in out.collect())

    def test_identity_holds_exactly(self, spark):
        vals = [5.0, 9.0, 2.0, 6.0, 10.0, 3.0, 7.0, 11.0, 4.0]
        for _, r in self._sd(spark, vals):
            assert r["value"] == pytest.approx(
                r["trend"] + r["seasonal"] + r["residual"], abs=1e-12)

    def test_pure_seasonal_signal_recovered(self, spark):
        # period-3 pattern around a flat base: seasonal should capture it
        pattern = [0.0, 6.0, -6.0]
        vals = [10.0 + pattern[i % 3] for i in range(12)]
        out = dict(self._sd(spark, vals))
        # interior rows: trend ~ 10, seasonal ~ pattern
        for t in range(3, 9):
            assert out[t]["seasonal"] == pytest.approx(pattern[t % 3],
                                                       abs=0.8)
        # seasonal components average ~0 per key (identifiability)
        mean_sea = sum(r["seasonal"] for r in out.values()) / len(out)
        assert abs(mean_sea) < 0.2

    def test_period_validation(self, spark):
        import pytest as _pt
        with _pt.raises(ValueError):
            self._sd(spark, [1.0, 2.0], period=4)
        with _pt.raises(ValueError):
            self._sd(spark, [1.0, 2.0], period=1)


class TestNelsonAalen:
    def test_hand_computed(self, spark):
        from bid_evaluation_ext.operators.timeseries import nelson_aalen

        rows = [(1.0, True), (2.0, True), (2.0, False), (3.0, True)]
        df = spark.createDataFrame(rows, "dur double, ev boolean")
        out = {r["duration"]: r.asDict()
               for r in nelson_aalen(df, "dur", "ev").collect()}
        # t=1: risk 4, 1 event -> H=0.25
        # t=2: risk 3, 1 event + 1 censored -> H=0.25+1/3
        # t=3: risk 1, 1 event -> H += 1
        assert out[1.0]["n_risk"] == 4
        assert out[1.0]["cum_hazard"] == 0.25
        assert out[2.0]["n_risk"] == 3 and out[2.0]["n_censored"] == 1
        assert out[2.0]["cum_hazard"] == pytest.approx(0.25 + 1 / 3,
                                                       abs=1e-4)
        assert out[3.0]["cum_hazard"] == pytest.approx(0.25 + 1 / 3 + 1.0,
                                                       abs=1e-4)

    def test_censoring_reduces_risk_only(self, spark):
        from bid_evaluation_ext.operators.timeseries import nelson_aalen

        rows = [(1.0, False)] * 3 + [(2.0, True)]
        df = spark.createDataFrame(rows, "dur double, ev boolean")
        out = {r["duration"]: r.asDict()
               for r in nelson_aalen(df, "dur", "ev").collect()}
        assert out[1.0]["n_event"] == 0 and out[1.0]["cum_hazard"] == 0.0
        assert out[2.0]["n_risk"] == 1 and out[2.0]["cum_hazard"] == 1.0


def test_ewma_cusum_step_kernels_match_sequential(spark):
    """r12 opt: ewma_by_key and cusum_by_key moved from per-key
    applyInPandas to the holt-style step-vectorized partition kernel —
    outputs must BIT-match the sequential per-key folds on a messy
    corpus (many keys, varying lengths, null keys as one SQL group,
    ts ties, shuffled input)."""
    import random

    from bid_evaluation_ext.operators.timeseries import (
        cusum_by_key, ewma_by_key)

    rnd = random.Random(1214)
    rows = []
    for k in list(range(23)) + [None]:
        for t in range(rnd.randint(1, 30)):
            rows.append((k, float(t // 4), len(rows),
                         rnd.uniform(30, 70)))
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "u int, ts double, e long, v double")

    series = {}
    for k, ts, e, v in sorted(rows, key=lambda r: (r[1], r[2])):
        series.setdefault(k, []).append((e, v))

    a = 0.2
    got = {r["e"]: r["ewma"]
           for r in ewma_by_key(df, "u", "ts", "v", "e",
                                alpha=a).collect()}
    assert len(got) == len(rows)
    for evs in series.values():
        s = None
        for e, x in evs:
            s = x if s is None else a * x + (1.0 - a) * s
            assert got[e] == s, e

    t_, k_, h_ = 50.0, 2.0, 12.0
    gotc = {r["e"]: (r["cusum_pos"], r["cusum_neg"], r["alarm"])
            for r in cusum_by_key(df, "u", "ts", "v", "e", target=t_,
                                  slack=k_, threshold=h_).collect()}
    assert len(gotc) == len(rows)
    for evs in series.values():
        sp = sn = 0.0
        for e, x in evs:
            sp = max(0.0, sp + (x - t_ - k_))
            sn = max(0.0, sn + (t_ - k_ - x))
            assert gotc[e] == (sp, sn, sp > h_ or sn > h_), e


def test_acf_kernel_matches_agg_engine(spark):
    # r13 dual engine: sorted-partition moments kernel vs the fused
    # corr/var_samp aggregate — identical rows incl. the 4-decimal acf
    # (nulls for short/constant/all-null series in both)
    import random

    from bid_evaluation_ext.operators.timeseries import acf_by_key
    rng = random.Random(5)
    rows = []
    for k in ("a", "b", "c", "d"):
        for t in range(120):
            v = (None if rng.random() < 0.1
                 else round(rng.gauss(100.0, 9.0), 3))
            rows.append((k, t, v))
    rows += [("short", 0, 1.0)]                     # < lag rows
    rows += [("const", t, 5.0) for t in range(10)]  # zero variance
    rows += [("nulls", t, None) for t in range(10)]
    df = spark.createDataFrame(rows, "k string, t long, v double")

    def get(engine):
        return sorted(map(tuple, acf_by_key(
            df, "k", ["t"], "v", lags=(1, 2, 5),
            engine=engine).collect()))

    assert get("kernel") == get("agg")
