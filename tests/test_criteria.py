"""Criterion + plain-evaluator semantics, ported from the reference's tests
(``tests/test_criteria.py``) and the verified golden facts in FIXTURES.md /
SURVEY §1.4."""

import math

import pytest
from pyspark.sql import functions as F

from bid_evaluation_spark import CustomCriterion, Evaluator, StagedEvaluator
from tests.conftest import rows_by


def test_linear_top_score_100(bids_3):
    result = Evaluator().linear("experience", 1.0).evaluate(bids_3)
    r = rows_by(result)
    assert r["A"]["score_experience"] == pytest.approx(100.0)
    assert r["B"]["score_experience"] == pytest.approx(0.0)
    assert r["C"]["score_experience"] == pytest.approx(60.0)
    assert r["A"]["ranking"] == 1


def test_linear_lower_is_better(bids_3):
    result = Evaluator().linear("bid_amount", 1.0, higher_is_better=False).evaluate(bids_3)
    r = rows_by(result)
    assert r["B"]["score_bid_amount"] == pytest.approx(100.0)
    assert r["C"]["score_bid_amount"] == pytest.approx(0.0)
    assert r["A"]["score_bid_amount"] == pytest.approx(100.0 * (110000 - 100000) / 15000)


def test_linear_constant_column_all_100(spark):
    df = spark.createDataFrame([("A", 5), ("B", 5)], "vendor string, x long")
    r = rows_by(Evaluator().linear("x", 1.0).evaluate(df))
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx(100.0)


def test_linear_weight_multiplied_details(spark):
    # SURVEY §1.4-2: detail scores are weight-multiplied contributions
    df = spark.createDataFrame([("A", 10), ("B", 0)], "vendor string, x long")
    r = rows_by(Evaluator().linear("x", 0.4).evaluate(df))
    assert r["A"]["score_x"] == pytest.approx(40.0)
    assert r["B"]["score_x"] == pytest.approx(0.0)


def test_min_ratio_lowest_100(bids_3):
    result = Evaluator().min_ratio("bid_amount", 1.0).evaluate(bids_3)
    r = rows_by(result)
    assert r["B"]["score_bid_amount"] == pytest.approx(100.0)
    assert r["A"]["score_bid_amount"] == pytest.approx(95.0)
    assert r["C"]["score_bid_amount"] == pytest.approx(95000 / 110000 * 100)
    assert r["B"]["ranking"] == 1


def test_min_ratio_negative_values(spark):
    # SURVEY §1.4-8: negatives produce negative scores (verified reference behavior)
    df = spark.createDataFrame([("A", -10.0), ("B", 10.0)], "vendor string, x double")
    r = rows_by(Evaluator().min_ratio("x", 1.0).evaluate(df))
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx(-100.0)


def test_min_ratio_zero_divergence(spark):
    # reference crashes (IntCastingNaNError); this engine yields null cleanly
    df = spark.createDataFrame([("A", 0.0), ("B", 10.0)], "vendor string, x double")
    r = rows_by(Evaluator().min_ratio("x", 1.0).evaluate(df))
    assert r["A"]["score_x"] is None
    assert r["B"]["score_x"] == pytest.approx(0.0)


def test_direct_passthrough(bids_3):
    r = rows_by(Evaluator().direct("methodology", 1.0).evaluate(bids_3))
    assert r["A"]["score_methodology"] == pytest.approx(85.0)
    assert r["B"]["score_methodology"] == pytest.approx(90.0)


def test_direct_no_clip_and_input_scale(spark):
    # SURVEY §1.4-7: no clipping; input_scale rescales by output/input
    df = spark.createDataFrame([("A", 150), ("B", 50)], "vendor string, x long")
    r = rows_by(Evaluator().direct("x", 1.0).evaluate(df))
    assert r["A"]["score_x"] == pytest.approx(150.0)
    r = rows_by(Evaluator().direct("x", 1.0, input_scale=10).evaluate(df))
    assert r["B"]["score_x"] == pytest.approx(500.0)


def test_threshold_bands_last_wins(spark):
    # SURVEY §1.4-5: [lower, upper) bands; overlap → last tuple wins; unmatched → 0
    df = spark.createDataFrame([("A", 7), ("B", 12), ("C", 99)], "vendor string, x long")
    ev = Evaluator().threshold("x", 1.0, [(0, 10, 50), (5, 15, 80)])
    r = rows_by(ev.evaluate(df))
    assert r["A"]["score_x"] == pytest.approx(80.0)
    assert r["B"]["score_x"] == pytest.approx(80.0)
    assert r["C"]["score_x"] == pytest.approx(0.0)


def test_threshold_infinity_upper(spark):
    df = spark.createDataFrame([("A", 3), ("B", 1000)], "vendor string, x long")
    ev = Evaluator().threshold("x", 1.0, [(0, 5, 60), (5, float("inf"), 100)])
    r = rows_by(ev.evaluate(df))
    assert r["A"]["score_x"] == pytest.approx(60.0)
    assert r["B"]["score_x"] == pytest.approx(100.0)


def test_multi_criteria_ranking(bids_3):
    result = (
        Evaluator()
        .linear("experience", 0.3)
        .direct("methodology", 0.3)
        .min_ratio("bid_amount", 0.4)
        .evaluate(bids_3)
    )
    rows = result.collect()
    assert "final_score" in result.columns and "ranking" in result.columns
    assert len(rows) == 3
    # sorted by ranking ascending (output contract §1.4-14)
    assert [r["ranking"] for r in rows] == sorted(r["ranking"] for r in rows)


def test_weight_normalization_final_score(spark):
    # SURVEY §1.4-3: normalized → sum/total_weight; else raw sum (640 case)
    df = spark.createDataFrame([("A", 10, 1)], "vendor string, x long, y long")
    ev = Evaluator(normalize_weights=False).direct("x", 60.0).direct("y", 40.0)
    r = rows_by(ev.evaluate(df))
    assert r["A"]["final_score"] == pytest.approx(640.0)
    ev2 = Evaluator(normalize_weights=True).direct("x", 60.0).direct("y", 40.0)
    r2 = rows_by(ev2.evaluate(df))
    assert r2["A"]["final_score"] == pytest.approx(6.4)


def test_rank_ties_min_method(spark):
    # SURVEY §1.4-4: scores [80,80,50] → ranks [1,1,3]
    df = spark.createDataFrame([("A", 80), ("B", 80), ("C", 50)], "vendor string, x long")
    r = rows_by(Evaluator().direct("x", 1.0).evaluate(df))
    assert (r["A"]["ranking"], r["B"]["ranking"], r["C"]["ranking"]) == (1, 1, 3)


def test_missing_column_keyerror(bids_3):
    with pytest.raises(KeyError):
        Evaluator().linear("nope", 1.0).evaluate(bids_3)


def test_same_column_criterion_overwrites(bids_3):
    # SURVEY §1.4-1: second criterion on same column replaces the first
    ev = Evaluator().min_ratio("bid_amount", 0.5).direct("bid_amount", 1.0)
    result = ev.evaluate(bids_3)
    r = rows_by(result)
    assert len(ev.criteria) == 1
    assert r["A"]["score_bid_amount"] == pytest.approx(100000.0)


def test_builtin_custom_proximity_to_mean(spark):
    df = spark.createDataFrame([("A", 100.0), ("B", 200.0), ("C", 300.0)],
                               "vendor string, x double")
    r = rows_by(Evaluator().custom("x", 1.0, "proximity_to_mean").evaluate(df))
    assert r["B"]["score_x"] == pytest.approx(100.0)
    assert r["A"]["score_x"] == pytest.approx(50.0)
    assert r["C"]["score_x"] == pytest.approx(50.0)


def test_builtin_custom_unknown_name():
    with pytest.raises(ValueError, match="Unknown built-in function"):
        Evaluator().custom("x", 1.0, "nope")


def test_builtin_log_scale_and_inverse_squared(spark):
    df = spark.createDataFrame([("A", 10.0), ("B", 40.0)], "vendor string, x double")
    r = rows_by(Evaluator().custom("x", 1.0, "log_scale").evaluate(df))
    assert r["B"]["score_x"] == pytest.approx(100.0)
    assert r["A"]["score_x"] == pytest.approx(math.log(11) / math.log(41) * 100)
    r = rows_by(Evaluator().custom("x", 1.0, "inverse_squared").evaluate(df))
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx((10 / 40) ** 2 * 100)


def test_custom_callable_pandas_udf(spark):
    df = spark.createDataFrame([("A", 10.0), ("B", 20.0)], "vendor string, x double")
    r = rows_by(
        Evaluator().custom("x", 1.0, lambda v, s: (v / s["mean"]) * 100).evaluate(df)
    )
    assert r["A"]["score_x"] == pytest.approx(10 / 15 * 100)
    assert r["B"]["score_x"] == pytest.approx(20 / 15 * 100)


def test_custom_callable_receives_stats(spark):
    df = spark.createDataFrame([("A", 1.0), ("B", 3.0)], "vendor string, x double")
    r = rows_by(
        Evaluator().custom("x", 1.0, lambda v, s: v * 0 + s["max"] + s["min"]).evaluate(df)
    )
    assert r["A"]["score_x"] == pytest.approx(4.0)


def test_no_criteria_final_zero(bids_3):
    r = rows_by(Evaluator().evaluate(bids_3))
    assert all(v["final_score"] == 0 and v["ranking"] == 1 for v in r.values())


def test_get_statistics(bids_3):
    ev = Evaluator().linear("experience", 1.0)
    ev.evaluate(bids_3).collect()
    stats = ev.get_statistics()["experience"]
    assert stats["min"] == 5 and stats["max"] == 10
    assert stats["mean"] == pytest.approx(23 / 3)
    assert stats["median"] == pytest.approx(8.0)
    assert stats["std"] == pytest.approx(2.516611, abs=1e-5)  # sample std (ddof=1)
    assert stats["q25"] == pytest.approx(6.5)  # linear interpolation
    assert stats["q75"] == pytest.approx(9.0)


def test_summary(bids_3):
    ev = Evaluator().linear("experience", 0.6).min_ratio("bid_amount", 0.4)
    s = ev.summary()
    assert list(s["column"]) == ["experience", "bid_amount"]
    assert s["normalized_weight"].sum() == pytest.approx(1.0)


def test_config_roundtrip(bids_3):
    config = {
        "experience": {"type": "linear", "weight": 0.3, "higher_is_better": True},
        "bid_amount": {"type": "min_ratio", "weight": 0.7},
    }
    r_cfg = rows_by(Evaluator.from_config(config).evaluate(bids_3))
    r_flu = rows_by(
        Evaluator().linear("experience", 0.3).min_ratio("bid_amount", 0.7).evaluate(bids_3)
    )
    for v in r_cfg:
        assert r_cfg[v]["final_score"] == pytest.approx(r_flu[v]["final_score"])


def test_config_unknown_type():
    with pytest.raises(ValueError, match="Unknown criterion type"):
        Evaluator.from_config({"x": {"type": "bogus", "weight": 1.0}})


def test_config_yaml_json(tmp_path, bids_3):
    yaml_text = (
        "criteria:\n"
        "  experience:\n    type: linear\n    weight: 0.3\n    higher_is_better: true\n"
        "  bid_amount:\n    type: min_ratio\n    weight: 0.7\n"
    )
    p = tmp_path / "config.yaml"
    p.write_text(yaml_text)
    r = rows_by(Evaluator.from_yaml(str(p)).evaluate(bids_3))
    assert r["A"]["ranking"] == 1 and r["B"]["ranking"] == 3

    import json

    pj = tmp_path / "config.json"
    pj.write_text(json.dumps({
        "criteria": {
            "experience": {"type": "linear", "weight": 0.3},
            "bid_amount": {"type": "min_ratio", "weight": 0.7},
        }
    }))
    rj = rows_by(Evaluator.from_json(str(pj)).evaluate(bids_3))
    assert rj["A"]["ranking"] == 1


def test_include_details_false(bids_3):
    result = Evaluator().linear("experience", 1.0).evaluate(bids_3, include_details=False)
    assert "score_experience" not in result.columns
    assert "final_score" in result.columns


def test_evaluate_batched_matches_per_batch(spark):
    # scale path: two tenders evaluated in one job ≡ two separate evaluates
    df = spark.createDataFrame(
        [("t1", "A", 10), ("t1", "B", 5), ("t1", "C", 8),
         ("t2", "X", 100), ("t2", "Y", 50)],
        "tender string, vendor string, experience long",
    )
    batched = Evaluator().linear("experience", 1.0).evaluate_batched(df, "tender")
    rb = {(r["tender"], r["vendor"]): r.asDict() for r in batched.collect()}
    for tender in ("t1", "t2"):
        single = Evaluator().linear("experience", 1.0).evaluate(
            df.filter(F.col("tender") == tender)
        )
        for r in single.collect():
            b = rb[(tender, r["vendor"])]
            assert b["final_score"] == pytest.approx(r["final_score"])
            assert b["ranking"] == r["ranking"]


def test_evaluate_batched_custom_matches_per_batch(spark):
    """CustomCriterion (stats-reading user fn) batched ≡ per-batch evaluate."""
    df = spark.createDataFrame(
        [("t1", "A", 10.0, 900.0), ("t1", "B", 5.0, 800.0),
         ("t1", "C", 8.0, 850.0),
         ("t2", "X", 100.0, 70.0), ("t2", "Y", 50.0, 90.0),
         ("t2", "Z", 75.0, 80.0)],
        "tender string, vendor string, experience double, bid_amount double",
    )

    def zscore(v, s):
        return ((v - s["mean"]) / s["std"]).clip(-2, 2) * 25 + 50

    def build():
        return (Evaluator()
                .custom("experience", 0.6, zscore)
                .linear("bid_amount", 0.4, higher_is_better=False))

    batched = build().evaluate_batched(df, "tender")
    rb = {(r["tender"], r["vendor"]): r.asDict() for r in batched.collect()}
    assert "score_experience" in batched.columns
    for tender in ("t1", "t2"):
        single = build().evaluate(df.filter(F.col("tender") == tender))
        for r in single.collect():
            b = rb[(tender, r["vendor"])]
            assert b["final_score"] == pytest.approx(r["final_score"], abs=1e-9)
            assert b["ranking"] == r["ranking"]

    slim = build().evaluate_batched(df, "tender", include_details=False)
    assert "score_experience" not in slim.columns
    assert {r["final_score"] for r in slim.collect()} == \
        {v["final_score"] for v in rb.values()}


def test_stats_mode_required_identical_scores(bids_3):
    ev = lambda: (Evaluator()
                  .linear("experience", 0.4)
                  .threshold("methodology", 0.3, [(0, 80, 50.0), (80, 200, 100.0)])
                  .min_ratio("bid_amount", 0.3))
    full = ev().evaluate(bids_3).select("vendor", "final_score", "ranking").collect()
    e2 = ev()
    req = e2.evaluate(bids_3, stats_mode="required").select(
        "vendor", "final_score", "ranking").collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, req))
    # partial bundle: linear kept only min/max, threshold nothing
    st = e2.get_statistics()
    assert set(st["experience"]) == {"min", "max"}
    assert "methodology" not in st or st.get("methodology") in ({}, None)
    assert set(st["bid_amount"]) == {"min"}
    with pytest.raises(ValueError, match="stats_mode"):
        ev().evaluate(bids_3, stats_mode="nope")


def test_stats_mode_required_no_stats_job_for_threshold_only(bids_3):
    # threshold/direct-only evaluators need no aggregation at all
    res = (Evaluator()
           .threshold("experience", 1.0, [(0, 7, 10.0), (7, 100, 90.0)])
           .evaluate(bids_3, stats_mode="required"))
    rows = {r["vendor"]: r["score_experience"] for r in res.collect()}
    assert rows == {"A": 90.0, "B": 10.0, "C": 90.0}


def test_all_null_column_stats_and_scores(spark):
    # all-null criterion column: stats are None; linear's constant-column rule
    # (stats null => 100) applies; min_ratio propagates null scores
    df = spark.createDataFrame(
        [("A", None), ("B", None)], "vendor string, v double"
    )
    res = Evaluator().linear("v", 1.0).evaluate(df).collect()
    assert [r["score_v"] for r in res] == [100.0, 100.0]
    res2 = Evaluator().min_ratio("v", 1.0).evaluate(df).collect()
    assert all(r["score_v"] is None for r in res2)


def test_partial_null_column(spark):
    # nulls don't poison stats (Spark aggs skip nulls, like pandas)
    df = spark.createDataFrame(
        [("A", 10.0), ("B", None), ("C", 20.0)], "vendor string, v double"
    )
    ev = Evaluator().linear("v", 1.0)
    res = {r["vendor"]: r["score_v"] for r in ev.evaluate(df).collect()}
    assert res["A"] == 0.0 and res["C"] == 100.0 and res["B"] is None
    st = ev.get_statistics()["v"]
    assert st["min"] == 10.0 and st["max"] == 20.0 and st["mean"] == 15.0


def test_custom_without_callable_is_rejected_at_build():
    """A missing or misspelt scoring function fails when the criterion is
    built, not inside the Python worker."""
    builds = [lambda: Evaluator().custom("v", 1.0),
              lambda: Evaluator().custom("v", 1.0, fn=lambda v, s: v),
              lambda: StagedEvaluator().add_stage("s").custom("v", 1.0, fn=lambda v, s: v),
              lambda: CustomCriterion("v", 1.0, None),
              lambda: CustomCriterion("v", 1.0, 3.0)]
    for build in builds:
        with pytest.raises(TypeError, match="callable scoring function"):
            build()
    # extra keyword config is still accepted next to a function
    ev = Evaluator().custom("v", 1.0, lambda v, s: v, note="kept")
    assert ev.criteria["v"].config == {"note": "kept"}
