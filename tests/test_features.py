"""Rolling feature / forward label semantics on a tiny ordered history."""

import datetime as dt

import pytest

from bid_evaluation_ext.operators import features as FT


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture
def events(spark):
    rows = [
        (1, _ts(0), 10, 10.0),
        (2, _ts(10), 10, 20.0),
        (3, _ts(30), 10, 30.0),
        (4, _ts(5), 20, 5.0),
        # same-ts tie for user 20 → event_id breaks it
        (5, _ts(5), 20, 7.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")


def by_eid(df):
    return {r["event_id"]: r.asDict() for r in df.collect()}


def test_rolling_basic(events):
    r = by_eid(FT.rolling_features(events, windows=(2,)))
    assert [r[i]["row_index"] for i in (1, 2, 3)] == [0, 1, 2]
    assert r[1]["lag1_value"] is None and r[1]["secs_since_prev"] is None
    assert r[2]["lag1_value"] == 10.0 and r[2]["delta_value"] == 10.0
    assert r[2]["secs_since_prev"] == pytest.approx(10.0)
    assert r[3]["roll2_mean"] == pytest.approx(25.0)
    assert r[3]["roll2_min"] == 20.0 and r[3]["roll2_max"] == 30.0
    assert r[1]["roll2_std"] is None  # one row → sample stddev undefined


def test_rolling_tiebreak(events):
    r = by_eid(FT.rolling_features(events, windows=(2,)))
    # user 20: same ts, event_id orders 4 then 5
    assert r[4]["row_index"] == 0 and r[5]["row_index"] == 1
    assert r[5]["lag1_value"] == 5.0 and r[5]["secs_since_prev"] == 0.0


def test_rolling_window_shorter_history(events):
    r = by_eid(FT.rolling_features(events, windows=(10,)))
    assert r[3]["roll10_mean"] == pytest.approx(20.0)  # only 3 rows exist


def test_forward_labels(events):
    r = by_eid(FT.forward_labels(events))
    assert r[1]["next1_value"] == 20.0
    assert r[1]["secs_to_next1"] == pytest.approx(10.0)
    assert r[3]["next1_value"] is None  # last in history: no peeking
    assert r[4]["next1_value"] == 7.0 and r[4]["secs_to_next1"] == 0.0


def test_forward_labels_horizon2(events):
    r = by_eid(FT.forward_labels(events, horizon=2))
    assert r[1]["next2_value"] == 30.0
    assert r[2]["next2_value"] is None


class TestMutualInformation:
    def _mi(self, spark, rows):
        from bid_evaluation_ext.operators.features import (
            mutual_information)

        df = spark.createDataFrame(rows, "a string, b string")
        return mutual_information(df, "a", "b").collect()[0]

    def test_identical_columns_give_entropy(self, spark):
        import math

        rows = [(x, x) for x in ["p", "q", "r", "s"] * 5]
        out = self._mi(spark, rows)
        assert out["n"] == 20
        assert out["mi"] == pytest.approx(math.log(4), abs=1e-4)

    def test_independent_columns_give_zero(self, spark):
        rows = [(a, b) for a in ["x", "y"] for b in ["u", "v"]] * 6
        out = self._mi(spark, rows)
        assert out["mi"] == 0.0

    def test_nulls_excluded_and_empty_zero(self, spark):
        rows = [("x", None), (None, "u"), ("x", "u")]
        out = self._mi(spark, rows)
        assert out["n"] == 1 and out["mi"] == 0.0
        out = self._mi(spark, [(None, None)])
        assert out["n"] == 0 and out["mi"] == 0.0


class TestWoeIv:
    def test_hand_computed(self, spark):
        import math

        from bid_evaluation_ext.operators.features import woe_iv

        rows = ([("a", True)] * 3 + [("a", False)] * 1
                + [("b", True)] * 1 + [("b", False)] * 3)
        df = spark.createDataFrame(rows, "cat string, lbl boolean")
        out = {r["category"]: r for r in woe_iv(df, "cat", "lbl").collect()}
        pt, nt = 4.0, 4.0
        ps_a, ns_a = 3.5 / 4.5, 1.5 / 4.5
        exp_woe_a = math.log(ps_a / ns_a)
        assert out["a"]["n_pos"] == 3 and out["a"]["n_neg"] == 1
        assert out["a"]["woe"] == pytest.approx(exp_woe_a, abs=1e-4)
        assert out["a"]["iv_term"] == pytest.approx(
            (ps_a - ns_a) * exp_woe_a, abs=1e-4)
        # symmetric case: woe_b = -woe_a, iv_b = iv_a
        assert out["b"]["woe"] == pytest.approx(-exp_woe_a, abs=1e-4)
        assert out["b"]["iv_term"] == pytest.approx(out["a"]["iv_term"],
                                                    abs=1e-4)

    def test_zero_cell_survives_smoothing_and_validation(self, spark):
        from bid_evaluation_ext.operators.features import woe_iv

        rows = [("a", True)] * 4 + [("b", False)] * 4
        df = spark.createDataFrame(rows, "cat string, lbl boolean")
        out = {r["category"]: r for r in woe_iv(df, "cat", "lbl").collect()}
        assert out["a"]["woe"] is not None and out["a"]["woe"] > 0
        assert out["b"]["woe"] < 0
        import pytest as _pt
        with _pt.raises(ValueError):
            woe_iv(df, "cat", "lbl", smoothing=0.0)
