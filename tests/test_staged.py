"""Staged-pipeline semantics, ported from the reference's tests
(``tests/test_staged.py``) and FIXTURES.md golden facts."""

import inspect
import warnings

import pytest
from pyspark.sql import functions as F

from bid_evaluation_spark import Evaluator, StagedEvaluator, StageFilter
from tests.conftest import rows_by


def two_stage(filter_type=None, **kw):
    """Technical (direct quality) → Economic (min_ratio bid_amount)."""
    st = StagedEvaluator(**{k: v for k, v in kw.items() if k == "final_score_mode"})
    fkw = {k: v for k, v in kw.items() if k in ("threshold", "top_n", "on_tie")}
    st.add_stage("Technical", filter_type=filter_type, weight=0.6, **fkw)
    st.direct("quality_score", 1.0)
    st.add_stage("Economic", weight=0.4)
    st.min_ratio("bid_amount", 1.0)
    return st


def test_threshold_elimination_survivors(bids_5):
    st = two_stage("score_threshold", threshold=65)
    r = rows_by(st.evaluate(bids_5))
    # quality scores: A=80 B=60 C=90 D=50 E=70 → eliminate B,D
    assert r["B"]["eliminated_at_stage"] == "Technical"
    assert r["D"]["eliminated_at_stage"] == "Technical"
    for v in ("A", "C", "E"):
        assert r[v]["eliminated_at_stage"] is None
        assert r[v]["ranking"] is not None


def test_topn_elimination(bids_5):
    # FIXTURES F-2: top_n=3 on direct(quality_score) advances {C,A,E}
    st = two_stage("top_n", top_n=3)
    r = rows_by(st.evaluate(bids_5))
    assert {v for v in r if r[v]["eliminated_at_stage"] is None} == {"C", "A", "E"}
    assert {v for v in r if r[v]["eliminated_at_stage"] == "Technical"} == {"B", "D"}


def test_eliminated_null_stage_scores_and_ranking(bids_5):
    # FIXTURES F-2: top_n=2 stage-1 eliminees have null economic score/ranking
    st = two_stage("top_n", top_n=2)
    r = rows_by(st.evaluate(bids_5))
    for v in ("B", "D", "E"):
        assert r[v]["economic_score"] is None
        assert r[v]["economic_ranking"] is None
        assert r[v]["ranking"] is None
    for v in ("A", "C"):
        assert r[v]["economic_score"] is not None


def test_weighted_combination_arithmetic(bids_5):
    # FIXTURES F-2: final = 0.6*technical + 0.4*economic to 1e-9
    st = two_stage("score_threshold", threshold=65,
                   final_score_mode="weighted_combination")
    r = rows_by(st.evaluate(bids_5))
    for v in ("A", "C", "E"):
        expected = 0.6 * r[v]["technical_score"] + 0.4 * r[v]["economic_score"]
        assert r[v]["final_score"] == pytest.approx(expected, abs=1e-9)


def test_weighted_combination_eliminated_real_score(bids_5):
    # SURVEY §1.4-11: eliminated bids get real final score via fillna(0)
    st = two_stage("score_threshold", threshold=65,
                   final_score_mode="weighted_combination")
    r = rows_by(st.evaluate(bids_5))
    assert r["B"]["final_score"] == pytest.approx(0.6 * 60.0, abs=1e-9)
    assert r["B"]["ranking"] is None


def test_last_stage_eliminated_null_final(bids_5):
    st = two_stage("score_threshold", threshold=65)  # default last_stage
    r = rows_by(st.evaluate(bids_5))
    assert r["B"]["final_score"] is None
    assert r["A"]["final_score"] == pytest.approx(r["A"]["economic_score"])


def test_staged_equals_plain_single_stage(bids_5):
    st = StagedEvaluator().add_stage("Only").linear("experience", 0.5).direct(
        "quality_score", 0.5)
    rs = rows_by(st.evaluate(bids_5))
    rp = rows_by(
        Evaluator().linear("experience", 0.5).direct("quality_score", 0.5).evaluate(bids_5)
    )
    for v in rp:
        assert rs[v]["final_score"] == pytest.approx(rp[v]["final_score"], abs=1e-9)
        assert rs[v]["ranking"] == rp[v]["ranking"]


def test_no_filter_passthrough(bids_5):
    st = two_stage(None)
    r = rows_by(st.evaluate(bids_5))
    assert all(r[v]["eliminated_at_stage"] is None for v in r)
    assert all(r[v]["ranking"] is not None for v in r)


def test_three_stage_pipeline(bids_5):
    st = (
        StagedEvaluator()
        .add_stage("One", filter_type="score_threshold", threshold=40)
        .direct("quality_score", 1.0)
        .add_stage("Two", filter_type="top_n", top_n=3)
        .linear("experience", 1.0)
        .add_stage("Three")
        .min_ratio("bid_amount", 1.0)
    )
    r = rows_by(st.evaluate(bids_5))
    # stage1: all pass (min quality 50 ≥ 40); stage2 experience top3 of all:
    # A=10,C=8,E=7 advance; B=5,D=3 eliminated at Two
    assert {v for v in r if r[v]["eliminated_at_stage"] == "Two"} == {"B", "D"}
    assert r["A"]["three_score"] is not None


def test_stage_stats_survivors_only(spark):
    # SURVEY §1.4-10: stage-2 min_ratio pivots on *surviving* min
    df = spark.createDataFrame(
        [("A", 100, 100), ("B", 80, 50), ("C", 10, 10)],
        "vendor string, quality long, price long",
    )
    st = (
        StagedEvaluator()
        .add_stage("S1", filter_type="score_threshold", threshold=60)
        .direct("quality", 1.0)
        .add_stage("S2")
        .min_ratio("price", 1.0)
    )
    r = rows_by(st.evaluate(df))
    # C (price 10) eliminated in S1 → surviving min price is 50 → B gets 100
    assert r["C"]["eliminated_at_stage"] == "S1"
    assert r["B"]["s2_score"] == pytest.approx(100.0)
    assert r["A"]["s2_score"] == pytest.approx(50.0)


def test_topn_tie_include(tie_table):
    # FIXTURES F-3: top_n=2 include → survivors {A,B,C}
    st = (
        StagedEvaluator()
        .add_stage("S1", filter_type="top_n", top_n=2, on_tie="include")
        .direct("score", 1.0)
        .add_stage("S2")
        .min_ratio("price", 1.0)
    )
    r = rows_by(st.evaluate(tie_table))
    assert {v for v in r if r[v]["eliminated_at_stage"] is None} == {"A", "B", "C"}


def test_topn_tie_exclude(tie_table):
    # FIXTURES F-3: top_n=2 exclude → survivor {A} only
    st = (
        StagedEvaluator()
        .add_stage("S1", filter_type="top_n", top_n=2, on_tie="exclude")
        .direct("score", 1.0)
        .add_stage("S2")
        .min_ratio("price", 1.0)
    )
    r = rows_by(st.evaluate(tie_table))
    assert {v for v in r if r[v]["eliminated_at_stage"] is None} == {"A"}


def test_topn_tie_exclude_not_at_cutoff(tie_table):
    # FIXTURES F-3: top_n=3 exclude → {A,B,C} (tie not straddling cutoff)
    st = (
        StagedEvaluator()
        .add_stage("S1", filter_type="top_n", top_n=3, on_tie="exclude")
        .direct("score", 1.0)
        .add_stage("S2")
        .min_ratio("price", 1.0)
    )
    r = rows_by(st.evaluate(tie_table))
    assert {v for v in r if r[v]["eliminated_at_stage"] is None} == {"A", "B", "C"}


def test_topn_population_leq_n(tie_table):
    # population ≤ n → all advance (both tie modes)
    for mode in ("include", "exclude"):
        st = (
            StagedEvaluator()
            .add_stage("S1", filter_type="top_n", top_n=10, on_tie=mode)
            .direct("score", 1.0)
            .add_stage("S2")
            .min_ratio("price", 1.0)
        )
        r = rows_by(st.evaluate(tie_table))
        assert all(r[v]["eliminated_at_stage"] is None for v in r)


def test_all_eliminated_warning(bids_5):
    st = two_stage("score_threshold", threshold=99999)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        r = rows_by(st.evaluate(bids_5))
    assert any("All bids were eliminated" in str(x.message) for x in w)
    assert all(r[v]["ranking"] is None for v in r)


def test_empty_input(spark, bids_5):
    """Empty input, driver-local (scored at call time) and lazy, in both final
    modes: the input columns then the contract columns, no warning, and the
    evaluator stays un-evaluated (reference early return, SURVEY §1.4-16)."""
    expected = bids_5.dtypes + [("eliminated_at_stage", "string"),
                                ("final_score", "double"), ("ranking", "bigint")]
    lazy = bids_5.filter(F.lit(False))
    inputs = {"local": spark.createDataFrame(lazy.toArrow()), "lazy": lazy}
    assert inputs["local"].isLocal() and not inputs["lazy"].isLocal()
    for mode in ("last_stage", "weighted_combination"):
        for path, empty in inputs.items():
            st = two_stage("score_threshold", threshold=65, final_score_mode=mode)
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                out = st.evaluate(empty)
                assert out.count() == 0
            # (py4j's unclosed-socket ResourceWarnings are not the engine's)
            assert [str(w.message) for w in caught
                    if issubclass(w.category, UserWarning)] == [], (mode, path)
            assert out.dtypes == expected, (mode, path)
            for method in (st.get_statistics, st.get_stage_results):
                with pytest.raises(RuntimeError, match=r"Call evaluate\(\) before"):
                    method()


def test_output_column_contract(bids_5):
    st = two_stage("score_threshold", threshold=65,
                   final_score_mode="weighted_combination")
    out = st.evaluate(bids_5)
    for c in (
        "technical_quality_score", "technical_score", "technical_ranking",
        "economic_bid_amount", "economic_score", "economic_ranking",
        "eliminated_at_stage", "final_score", "ranking",
    ):
        assert c in out.columns, c


def test_stage_name_sanitization(bids_5):
    st = (
        StagedEvaluator()
        .add_stage("Stage One - Tech", filter_type="score_threshold", threshold=0)
        .direct("quality_score", 1.0)
        .add_stage("Final")
        .min_ratio("bid_amount", 1.0)
    )
    out = st.evaluate(bids_5)
    assert "stage_one___tech_score" in out.columns


def test_output_ordering_contract(bids_5):
    st = two_stage("score_threshold", threshold=65)
    rows = st.evaluate(bids_5).collect()
    rankings = [r["ranking"] for r in rows]
    non_null = [x for x in rankings if x is not None]
    assert non_null == sorted(non_null)
    assert rankings[: len(non_null)] == non_null  # eliminated (null) last


def test_filter_validation_errors():
    with pytest.raises(ValueError, match="Unknown filter type"):
        StageFilter(type="bogus")
    with pytest.raises(ValueError, match="threshold is required"):
        StageFilter(type="score_threshold")
    with pytest.raises(ValueError, match="top_n is required"):
        StageFilter(type="top_n")
    with pytest.raises(ValueError, match="on_tie must be"):
        StageFilter(type="top_n", top_n=2, on_tie="maybe")
    with pytest.raises(ValueError, match="final_score_mode must be"):
        StagedEvaluator(final_score_mode="bogus")


def test_no_stages_errors(bids_5):
    with pytest.raises(RuntimeError, match="No stages defined"):
        StagedEvaluator().evaluate(bids_5)
    with pytest.raises(RuntimeError, match="No stages defined"):
        StagedEvaluator().linear("x", 1.0)


def test_config_equals_fluent(bids_5):
    config = {
        "final_score_mode": "weighted_combination",
        "stages": [
            {
                "name": "Technical",
                "weight": 0.6,
                "filter": {"type": "score_threshold", "threshold": 65},
                "criteria": {"quality_score": {"type": "direct", "weight": 1.0}},
            },
            {
                "name": "Economic",
                "weight": 0.4,
                "criteria": {"bid_amount": {"type": "min_ratio", "weight": 1.0}},
            },
        ],
    }
    rc = rows_by(StagedEvaluator.from_config(config).evaluate(bids_5))
    rf = rows_by(
        two_stage("score_threshold", threshold=65,
                  final_score_mode="weighted_combination").evaluate(bids_5)
    )
    for v in rf:
        assert rc[v]["final_score"] == pytest.approx(rf[v]["final_score"], abs=1e-9)
        assert rc[v]["eliminated_at_stage"] == rf[v]["eliminated_at_stage"]

    # every config-supported criterion type, built fluently on the current
    # stage, gives the same rows as the same stages from config
    config = {
        "final_score_mode": "weighted_combination",
        "stages": [
            {
                "name": "Technical",
                "weight": 0.6,
                "filter": {"type": "top_n", "top_n": 4, "on_tie": "exclude"},
                "criteria": {
                    "quality_score": {"type": "linear", "weight": 0.4},
                    "experience": {"type": "threshold", "weight": 0.3,
                                   "thresholds": [[0, 6, 40], [6, 100, 90]]},
                    "delivery_days": {"type": "formula", "weight": 0.3,
                                      "formula": "100 - value"},
                },
            },
            {
                "name": "Economic",
                "weight": 0.4,
                "criteria": {
                    "bid_amount": {"type": "min_ratio", "weight": 0.5},
                    "quality_score": {"type": "direct", "weight": 0.2, "input_scale": 90},
                    "delivery_days": {"type": "template", "weight": 0.3,
                                      "template": "sweet_spot_range",
                                      "min_ideal": 30, "max_ideal": 40},
                },
            },
        ],
    }
    fluent = (StagedEvaluator(final_score_mode="weighted_combination")
              .add_stage("Technical", filter_type="top_n", top_n=4, on_tie="exclude",
                         weight=0.6)
              .linear("quality_score", 0.4)
              .threshold("experience", 0.3, thresholds=[(0, 6, 40), (6, 100, 90)])
              .formula("delivery_days", 0.3, "100 - value")
              .add_stage("Economic", weight=0.4)
              .min_ratio("bid_amount", 0.5)
              .direct("quality_score", 0.2, input_scale=90)
              .template("delivery_days", 0.3, "sweet_spot_range", min_ideal=30, max_ideal=40))
    rc = StagedEvaluator.from_config(config).evaluate(bids_5)
    rf = fluent.evaluate(bids_5)
    assert rc.columns == rf.columns
    assert rc.collect() == rf.collect()


_FLUENT = ("linear", "threshold", "direct", "min_ratio", "formula", "custom", "template")


@pytest.mark.parametrize("method", _FLUENT)
def test_fluent_signatures_match(method):
    def params(cls):
        return [(p.name, p.kind, p.default)
                for p in inspect.signature(getattr(cls, method)).parameters.values()]

    assert params(Evaluator) == params(StagedEvaluator)


def test_config_yaml(tmp_path, bids_5):
    text = """
final_score_mode: last_stage
stages:
  - name: Technical
    weight: 0.6
    filter: {type: score_threshold, threshold: 65}
    criteria:
      quality_score: {type: direct, weight: 1.0}
  - name: Economic
    criteria:
      bid_amount: {type: min_ratio, weight: 1.0}
"""
    p = tmp_path / "staged.yaml"
    p.write_text(text)
    r = rows_by(StagedEvaluator.from_yaml(str(p)).evaluate(bids_5))
    assert r["B"]["eliminated_at_stage"] == "Technical"


def test_summary_and_statistics(bids_5):
    st = two_stage("score_threshold", threshold=65)
    s = st.summary()
    assert list(s["stage"]) == ["Technical", "Economic"]
    with pytest.raises(RuntimeError, match="Call evaluate"):
        st.get_statistics()
    with pytest.raises(RuntimeError, match="Call evaluate"):
        st.get_stage_results()
    st.evaluate(bids_5).collect()
    stats = st.get_statistics()
    assert "Technical" in stats and "Economic" in stats
    # stage-2 stats computed over survivors only (A,C,E bid_amounts)
    assert stats["Economic"]["bid_amount"]["min"] == 100000
    results = st.get_stage_results()
    assert [r.name for r in results] == ["Technical", "Economic"]
    assert results[0].advanced_df.count() == 3
    assert results[0].eliminated_df.count() == 2
    st.release()


def test_formula_in_stages(bids_5):
    st = (
        StagedEvaluator()
        .add_stage("S1", filter_type="score_threshold", threshold=50)
        .formula("quality_score", 1.0, "(value - min) / (max - min) * 100")
        .add_stage("S2")
        .min_ratio("bid_amount", 1.0)
    )
    r = rows_by(st.evaluate(bids_5))
    # normalized quality: A=75 B=25 C=100 D=0 E=50 → threshold 50 keeps A,C,E
    assert {v for v in r if r[v]["eliminated_at_stage"] is None} == {"A", "C", "E"}


def test_staged_evaluate_batched_matches_per_batch(spark):
    """evaluate_batched == standalone evaluate per batch, incl. top_n ties."""
    rows = []
    for b, scores in (("t1", [90, 80, 80, 70, 10]),
                      ("t2", [50, 40, 30]),
                      ("t3", [5, 4])):  # t3: all eliminated at stage 1
        for i, s in enumerate(scores):
            rows.append((b, f"{b}-v{i}", float(s), float(100 - s)))
    df = spark.createDataFrame(rows, "tender string, vendor string, quality double, price double")

    def build():
        return (StagedEvaluator(final_score_mode="weighted_combination")
                .add_stage("Tech", filter_type="top_n", top_n=2,
                           on_tie="exclude", weight=0.6)
                .direct("quality", 1.0)
                .add_stage("Econ", weight=0.4)
                .min_ratio("price", 1.0))

    st = build()
    batched = st.evaluate_batched(df, "tender")
    got = {(r["tender"], r["vendor"]):
           (r["eliminated_at_stage"], r["final_score"], r["ranking"])
           for r in batched.collect()}
    st.release()

    import warnings as _w

    for b in ("t1", "t2", "t3"):
        single = build()
        with _w.catch_warnings():
            _w.simplefilter("ignore")
            res = single.evaluate(df.filter(F.col("tender") == b)).collect()
        single.release()
        for r in res:
            key = (b, r["vendor"])
            want = (r["eliminated_at_stage"], r["final_score"], r["ranking"])
            assert got[key][0] == want[0], (key, got[key], want)
            if want[1] is None:
                assert got[key][1] is None, (key, got[key], want)
            else:
                assert got[key][1] == pytest.approx(want[1], abs=1e-9)
            assert got[key][2] == want[2], (key, got[key], want)


def test_staged_evaluate_batched_custom_matches_per_batch(spark):
    """CustomCriterion in staged evaluate_batched ≡ per-batch evaluate.

    The custom fn reads the stats bundle (mean/std), so this checks that the
    applyInPandas path hands the user fn the ACTIVE rows of exactly one batch
    and the same statistics a standalone evaluate would compute.
    """
    rows = []
    for b, scores in (("t1", [90.0, 80.0, 70.0, 10.0]),
                      ("t2", [50.0, 40.0, 30.0])):
        for i, s in enumerate(scores):
            rows.append((b, f"{b}-v{i}", s, 100.0 - s))
    df = spark.createDataFrame(
        rows, "tender string, vendor string, quality double, price double")

    def zscore(v, s):
        return ((v - s["mean"]) / s["std"]).clip(-2, 2) * 25 + 50

    def build():
        return (StagedEvaluator()
                .add_stage("Tech", filter_type="top_n", top_n=3, weight=0.5)
                .custom("quality", 0.7, zscore)
                .linear("price", 0.3, higher_is_better=False)
                .add_stage("Econ", weight=0.5)
                .custom("price", 1.0, zscore))

    st = build()
    batched = st.evaluate_batched(df, "tender")
    got = {(r["tender"], r["vendor"]):
           (r["eliminated_at_stage"], r["final_score"], r["ranking"])
           for r in batched.collect()}
    st.release()

    for b in ("t1", "t2"):
        single = build()
        res = single.evaluate(df.filter(F.col("tender") == b)).collect()
        single.release()
        for r in res:
            key = (b, r["vendor"])
            want = (r["eliminated_at_stage"], r["final_score"], r["ranking"])
            assert got[key][0] == want[0], (key, got[key], want)
            if want[1] is None:
                assert got[key][1] is None, (key, got[key], want)
            else:
                assert got[key][1] == pytest.approx(want[1], abs=1e-9)
            assert got[key][2] == want[2], (key, got[key], want)


def test_staged_batched_randomized_matches_per_batch(spark):
    """Randomized differential: batched staged pipeline (top_n ties, custom
    criterion, narrow work-frame caches) ≡ standalone evaluate per batch,
    across 15 batches of varied sizes with duplicate scores."""
    import random

    rng = random.Random(20260813)
    rows = []
    for b in range(15):
        n = rng.randint(1, 12)
        for i in range(n):
            # coarse grid forces score ties within and across batches
            rows.append((f"b{b:02d}", f"b{b}-v{i}",
                         float(rng.randint(0, 8) * 10),
                         float(rng.randint(1, 5) * 100)))
    df = spark.createDataFrame(
        rows, "tender string, vendor string, quality double, price double")

    def zscore(v, s):
        std = s["std"]
        if std is None or std != std or std == 0:
            return v * 0 + 50.0
        return ((v - s["mean"]) / std).clip(-2, 2) * 25 + 50

    def build():
        return (StagedEvaluator(final_score_mode="weighted_combination")
                .add_stage("Tech", filter_type="top_n", top_n=3,
                           on_tie="exclude", weight=0.6)
                .custom("quality", 0.5, zscore)
                .linear("price", 0.5, higher_is_better=False)
                .add_stage("Econ", weight=0.4)
                .min_ratio("price", 1.0))

    st = build()
    batched = st.evaluate_batched(df, "tender")
    got = {(r["tender"], r["vendor"]):
           (r["eliminated_at_stage"], r["final_score"], r["ranking"])
           for r in batched.collect()}
    st.release()
    assert len(got) == len(rows)

    import warnings as _w

    for b in sorted({r[0] for r in rows}):
        single = build()
        with _w.catch_warnings():
            _w.simplefilter("ignore")
            res = single.evaluate(df.filter(F.col("tender") == b)).collect()
        single.release()
        for r in res:
            key = (b, r["vendor"])
            want = (r["eliminated_at_stage"], r["final_score"], r["ranking"])
            assert got[key][0] == want[0], (key, got[key], want)
            if want[1] is None:
                assert got[key][1] is None, (key, got[key], want)
            else:
                assert got[key][1] == pytest.approx(want[1], abs=1e-9), (
                    key, got[key], want)
            assert got[key][2] == want[2], (key, got[key], want)


def test_staged_batched_custom_include_details_false(spark, bids_3):
    df = bids_3.withColumn("b", F.lit("x"))
    st = (StagedEvaluator().add_stage("S")
          .custom("experience", 1.0, lambda v, s: v * 0 + 50))
    out = st.evaluate_batched(df, "b", include_details=False)
    assert "S_experience" not in out.columns
    vals = [r["final_score"] for r in out.collect()]
    st.release()
    assert vals == pytest.approx([50.0, 50.0, 50.0])
