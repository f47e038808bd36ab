"""Multi-touch attribution: hand-computed journeys, open/zero-touch
journeys, credit conservation."""

import pytest

from bid_evaluation_ext.operators.attribution import attribute_conversions


def _attr(spark, rows):
    df = spark.createDataFrame(rows, "u string, t long, e long, ch string")
    out = attribute_conversions(df, "u", "t", "ch", "buy", "e").collect()
    return {r["channel"]: r.asDict() for r in out}


def test_hand_journeys(spark):
    rows = [("u", 1, 1, "view"), ("u", 2, 2, "click"), ("u", 3, 3, "buy"),
            ("u", 4, 4, "click"), ("u", 5, 5, "buy"),
            ("u", 6, 6, "view")]          # trailing view: open journey
    out = _attr(spark, rows)
    assert set(out) == {"view", "click"}
    v, c = out["view"], out["click"]
    assert v["n_touches"] == 1 and c["n_touches"] == 2
    assert (v["credit_first"], v["credit_last"], v["credit_linear"]) \
        == (1.0, 0.0, 0.5)
    assert (c["credit_first"], c["credit_last"], c["credit_linear"]) \
        == (1.0, 2.0, 1.5)


def test_zero_touch_and_leading_conversion(spark):
    rows = [("u", 1, 1, "buy"), ("u", 2, 2, "buy"),  # both zero-touch
            ("u", 3, 3, "view"), ("u", 4, 4, "buy")]
    out = _attr(spark, rows)
    assert set(out) == {"view"}
    assert out["view"]["credit_linear"] == 1.0


def test_open_journey_earns_nothing(spark):
    rows = [("u", 1, 1, "view"), ("u", 2, 2, "click")]  # no conversion
    assert _attr(spark, rows) == {}


def test_users_independent_and_credit_conserved(spark):
    rows = [("a", 1, 1, "view"), ("a", 2, 2, "click"), ("a", 3, 3, "buy"),
            ("b", 1, 4, "click"), ("b", 2, 5, "buy"),
            ("b", 3, 6, "view"), ("b", 4, 7, "view"), ("b", 5, 8, "buy")]
    out = _attr(spark, rows)
    # 3 closed journeys with >=1 touch: a:j0(view,click), b:j0(click),
    # b:j1(view,view) — each conversion distributes exactly 1.0
    n_closed = 3
    for col in ("credit_first", "credit_last", "credit_linear"):
        assert sum(v[col] for v in out.values()) == pytest.approx(n_closed)
    assert out["view"]["n_touches"] == 3
    assert out["click"]["n_touches"] == 2


def test_ties_broken_by_tiebreak_column(spark):
    # same ts: order by tiebreak e — 'view'(e=1) before 'click'(e=2)
    rows = [("u", 1, 2, "click"), ("u", 1, 1, "view"), ("u", 2, 3, "buy")]
    out = _attr(spark, rows)
    assert out["view"]["credit_first"] == 1.0
    assert out["click"]["credit_first"] == 0.0
    assert out["click"]["credit_last"] == 1.0
