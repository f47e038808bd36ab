"""Differential tests: this engine vs the reference library itself.

Runs the reference's pandas implementation (off PYTHONPATH /root/reference,
skipped when absent) and this Spark engine on the same fixtures, asserting
numeric equality to 1e-9 and identical survivor/ranking sets — SURVEY §5
strategy item (2). The reference is *executed*, never copied.
"""

import sys

import pytest

REF_PATH = "/root/reference"


def _load_reference():
    if REF_PATH not in sys.path:
        sys.path.insert(0, REF_PATH)
    try:
        import bid_evaluation  # noqa: F401

        return bid_evaluation
    except Exception:
        return None


ref = _load_reference()
pytestmark = pytest.mark.skipif(ref is None, reason="reference library not available")


@pytest.fixture
def pdf_bids5():
    import pandas as pd

    return pd.DataFrame({
        "vendor": ["A", "B", "C", "D", "E"],
        "experience": [10, 5, 8, 3, 7],
        "quality_score": [80, 60, 90, 50, 70],
        "bid_amount": [100000, 95000, 110000, 90000, 105000],
        "delivery_days": [30, 45, 25, 60, 35],
    })


def _spark_rows(df, key="vendor"):
    return {r[key]: r.asDict() for r in df.collect()}


def _ref_rows(pdf, key="vendor"):
    return {row[key]: dict(row) for _, row in pdf.iterrows()}


def test_plain_evaluator_differential(spark, pdf_bids5):
    from bid_evaluation_spark import Evaluator as SparkEval

    sdf = spark.createDataFrame(pdf_bids5)

    ref_result = (
        ref.Evaluator()
        .linear("experience", 0.25)
        .direct("quality_score", 0.35)
        .min_ratio("bid_amount", 0.3)
        .linear("delivery_days", 0.1, higher_is_better=False)
        .evaluate(pdf_bids5)
    )
    spark_result = (
        SparkEval()
        .linear("experience", 0.25)
        .direct("quality_score", 0.35)
        .min_ratio("bid_amount", 0.3)
        .linear("delivery_days", 0.1, higher_is_better=False)
        .evaluate(sdf)
    )
    r_ref, r_spark = _ref_rows(ref_result), _spark_rows(spark_result)
    for v in r_ref:
        for col in ("score_experience", "score_quality_score", "score_bid_amount",
                    "score_delivery_days", "final_score"):
            assert r_spark[v][col] == pytest.approx(r_ref[v][col], abs=1e-9), (v, col)
        assert r_spark[v]["ranking"] == int(r_ref[v]["ranking"]), v


def test_unnormalized_weights_differential(spark, pdf_bids5):
    from bid_evaluation_spark import Evaluator as SparkEval

    sdf = spark.createDataFrame(pdf_bids5)
    ref_result = (
        ref.Evaluator(normalize_weights=False)
        .direct("quality_score", 60.0)
        .linear("experience", 40.0)
        .evaluate(pdf_bids5)
    )
    spark_result = (
        SparkEval(normalize_weights=False)
        .direct("quality_score", 60.0)
        .linear("experience", 40.0)
        .evaluate(sdf)
    )
    r_ref, r_spark = _ref_rows(ref_result), _spark_rows(spark_result)
    for v in r_ref:
        assert r_spark[v]["final_score"] == pytest.approx(r_ref[v]["final_score"], abs=1e-9)


def test_threshold_overlap_differential(spark, pdf_bids5):
    from bid_evaluation_spark import Evaluator as SparkEval

    bands = [(0, 7, 30.0), (5, 9, 60.0), (8, 100, 95.0)]
    sdf = spark.createDataFrame(pdf_bids5)
    ref_result = ref.Evaluator().threshold("experience", 1.0, bands).evaluate(pdf_bids5)
    spark_result = SparkEval().threshold("experience", 1.0, bands).evaluate(sdf)
    r_ref, r_spark = _ref_rows(ref_result), _spark_rows(spark_result)
    for v in r_ref:
        assert r_spark[v]["score_experience"] == pytest.approx(
            r_ref[v]["score_experience"], abs=1e-9
        )


def test_staged_differential(spark, pdf_bids5):
    from bid_evaluation_spark import StagedEvaluator as SparkStaged

    def build(cls):
        return (
            cls(final_score_mode="weighted_combination")
            .add_stage("Technical", filter_type="score_threshold", threshold=60,
                       weight=0.7)
            .direct("quality_score", 0.6)
            .linear("experience", 0.4)
            .add_stage("Economic", weight=0.3)
            .min_ratio("bid_amount", 1.0)
        )

    ref_result = build(ref.StagedEvaluator).evaluate(pdf_bids5)
    spark_result = build(SparkStaged).evaluate(spark.createDataFrame(pdf_bids5))
    r_ref, r_spark = _ref_rows(ref_result), _spark_rows(spark_result)
    import math

    for v in r_ref:
        ref_elim = r_ref[v]["eliminated_at_stage"]
        ref_elim = None if (ref_elim is None or (isinstance(ref_elim, float) and math.isnan(ref_elim))) else ref_elim
        assert r_spark[v]["eliminated_at_stage"] == ref_elim, v
        assert r_spark[v]["final_score"] == pytest.approx(r_ref[v]["final_score"], abs=1e-9), v
        ref_rank = r_ref[v]["ranking"]
        if isinstance(ref_rank, float) and math.isnan(ref_rank):
            assert r_spark[v]["ranking"] is None, v
        else:
            assert r_spark[v]["ranking"] == int(ref_rank), v
        for col in ("technical_score", "technical_ranking", "economic_score"):
            rv = r_ref[v][col]
            if isinstance(rv, float) and math.isnan(rv):
                assert r_spark[v][col] is None, (v, col)
            else:
                assert float(r_spark[v][col]) == pytest.approx(float(rv), abs=1e-9), (v, col)


def test_staged_topn_tie_differential(spark):
    import pandas as pd

    from bid_evaluation_spark import StagedEvaluator as SparkStaged

    pdf = pd.DataFrame({
        "vendor": ["A", "B", "C", "D"],
        "score": [90, 80, 80, 70],
        "price": [100, 200, 150, 120],
    })

    for on_tie in ("include", "exclude"):
        for n in (2, 3):
            def build(cls):
                return (
                    cls()
                    .add_stage("S1", filter_type="top_n", top_n=n, on_tie=on_tie)
                    .direct("score", 1.0)
                    .add_stage("S2")
                    .min_ratio("price", 1.0)
                )

            ref_result = build(ref.StagedEvaluator).evaluate(pdf)
            spark_result = build(SparkStaged).evaluate(spark.createDataFrame(pdf))
            ref_elim = {
                row["vendor"]: row["eliminated_at_stage"]
                for _, row in ref_result.iterrows()
            }
            spark_elim = {
                r["vendor"]: r["eliminated_at_stage"] for r in spark_result.collect()
            }
            for v, e in ref_elim.items():
                e = None if not isinstance(e, str) else e
                assert spark_elim[v] == e, (on_tie, n, v)


def test_builtin_customs_differential(spark, pdf_bids5):
    from bid_evaluation_spark import Evaluator as SparkEval

    for fn in ("proximity_to_mean", "proximity_to_median", "log_scale",
               "inverse_squared"):
        ref_result = ref.Evaluator().custom("bid_amount", 1.0, fn).evaluate(pdf_bids5)
        spark_result = SparkEval().custom("bid_amount", 1.0, fn).evaluate(
            spark.createDataFrame(pdf_bids5)
        )
        r_ref, r_spark = _ref_rows(ref_result), _spark_rows(spark_result)
        for v in r_ref:
            assert r_spark[v]["score_bid_amount"] == pytest.approx(
                r_ref[v]["score_bid_amount"], abs=1e-9
            ), (fn, v)


def test_templates_differential(spark, pdf_bids5):
    import pandas as pd

    from bid_evaluation_spark.functions import templates as stpl

    ref_tpl = ref.custom_templates
    sdf = spark.createDataFrame(pdf_bids5)
    cases = [
        ("budget_proximity", {"target": 100000}, "bid_amount"),
        ("sweet_spot_range", {"min_ideal": 30, "max_ideal": 40}, "delivery_days"),
        ("penalty_function", {"base_score": 100, "threshold": 30,
                              "penalty_per_unit": 2}, "delivery_days"),
        ("bonus_tiers", {"base_score": 50, "tier1_threshold": 5, "tier1_bonus": 20,
                         "tier2_threshold": 8, "tier2_bonus": 30}, "experience"),
        ("percentage_of_best", {"higher_is_better": False}, "bid_amount"),
        ("distance_from_mean", {"prefer_above": True}, "quality_score"),
    ]
    for name, params, column in cases:
        values = pdf_bids5[column]
        stats = {
            "min": values.min(), "max": values.max(), "mean": values.mean(),
            "median": values.median(), "std": values.std(),
            "q25": values.quantile(0.25), "q75": values.quantile(0.75),
        }
        expected = ref_tpl.apply_template(name, values, stats, **params)
        from pyspark.sql import functions as F

        got = {
            r["vendor"]: r["s"]
            for r in sdf.select(
                "vendor", F.expr(stpl.apply_template(name, f"`{column}`", stats, **params)).alias("s")
            ).collect()
        }
        for i, v in enumerate(pdf_bids5["vendor"]):
            assert got[v] == pytest.approx(float(expected.iloc[i]), abs=1e-9), (name, v)
