"""The evaluation plan: what it costs (Python→JVM calls, Spark jobs, cached
frames), NaN and ±inf at the statistics and ranking boundary, python-scored
criteria on the batched path, and SQL-text safety for hostile names and
literals. Expected scores are computed with pandas in each test."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bid_evaluation_spark import Evaluator, StagedEvaluator
from bid_evaluation_spark.functions.formula import FormulaTranslationError, formula_to_sql


def _same(got, want):
    """Engine value (None for null) equals a pandas value (NaN for missing)."""
    if want is None or (isinstance(want, float) and math.isnan(want)):
        return got is None
    return got is not None and got == pytest.approx(want, rel=1e-12, abs=1e-12)


def _pandas_linear(values):
    s = pd.Series(values, dtype="float64")
    lo, hi = s.min(), s.max()
    with np.errstate(invalid="ignore"):
        return (s - lo) / (hi - lo) * 100.0


def _check_ranked(rows, key, scores):
    ranks = scores.rank(ascending=False, method="min")
    for i, want in scores.items():
        r = rows[i]
        assert _same(r[key], want), (i, r[key], want)
        assert _same(r["ranking"], ranks[i]), (i, r["ranking"], ranks[i])


# --- NaN and ±inf -----------------------------------------------------------


@pytest.fixture
def nan_bids(spark):
    # a true IEEE NaN in a computed double column (not a null)
    df = spark.createDataFrame([(0, 10.0), (1, 1.0), (2, 0.0), (3, 5.0)], "id long, raw double")
    return df.withColumn("v", F.when(F.col("id") == 1, F.sqrt(F.lit(-1.0)))
                         .otherwise(F.col("raw")))


def test_nan_value_skipped_by_stats_and_unranked(spark, nan_bids):
    values = [10.0, float("nan"), 0.0, 5.0]
    want = _pandas_linear(values)
    assert list(want.fillna(-1)) == [100.0, -1, 0.0, 50.0]

    rows = {r["id"]: r for r in Evaluator().linear("v", 1.0).evaluate(nan_bids).collect()}
    _check_ranked(rows, "final_score", want)
    assert [rows[i]["ranking"] for i in range(4)] == [1, None, 3, 2]

    batched = Evaluator().linear("v", 1.0).evaluate_batched(
        nan_bids.withColumn("t", F.lit("t1")), "t").collect()
    _check_ranked({r["id"]: r for r in batched}, "final_score", want)

    st = StagedEvaluator().add_stage("Only").linear("v", 1.0)
    staged = {r["id"]: r for r in st.evaluate(nan_bids).collect()}
    _check_ranked(staged, "final_score", want)
    assert staged[1]["only_score"] is None and staged[1]["only_ranking"] is None


def test_inf_bid_under_linear_is_unranked(spark):
    values = [1.0, float("inf"), 3.0]
    df = spark.createDataFrame(list(enumerate(values)), "id long, v double")
    want = _pandas_linear(values)
    assert math.isnan(want[1])
    rows = {r["id"]: r for r in Evaluator().linear("v", 1.0).evaluate(df).collect()}
    _check_ranked(rows, "final_score", want)
    # the unranked bid sorts last
    assert [r["id"] for r in Evaluator().linear("v", 1.0).evaluate(df).collect()][-1] == 1


# --- what an evaluation costs ---------------------------------------------


@pytest.fixture
def py4j_calls():
    """Counts Python→JVM commands sent while the returned counter is active."""
    from py4j.clientserver import ClientServerConnection

    counter = {"on": False, "n": 0}
    original = ClientServerConnection.send_command

    def counting(self, command):
        if counter["on"]:
            counter["n"] += 1
        return original(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = original


@pytest.fixture
def tender(spark):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "bid_id": np.arange(40),
        "price": rng.uniform(1e4, 1e5, 40), "quality": rng.uniform(40, 100, 40),
        "days": rng.integers(5, 120, 40), "experience": rng.integers(0, 30, 40),
        "certs": rng.integers(0, 6, 40), "tech": rng.uniform(0, 10, 40),
    })
    return spark.createDataFrame(pdf)


def _six(builder):
    return (builder.linear("price", 2.0, higher_is_better=False)
            .min_ratio("quality", 1.0)
            .threshold("days", 1.5, [(0, 30, 100), (30, 60, 60), (60, 200, 20)])
            .formula("experience", 1.0, "(value - min) / (max - min) * 100")
            .template("certs", 0.5, "distance_from_mean")
            .custom("tech", 1.0, "proximity_to_median"))


def _three_stages():
    return (StagedEvaluator(final_score_mode="weighted_combination")
            .add_stage("screen", filter_type="score_threshold", threshold=30)
            .linear("price", 1.0, higher_is_better=False).direct("quality", 1.0)
            .add_stage("technical", filter_type="top_n", top_n=10, on_tie="exclude")
            .linear("experience", 1.0).threshold("certs", 1.0, [(0, 3, 40), (3, 9, 90)])
            .add_stage("award")
            .min_ratio("price", 1.0).formula("tech", 1.0, "value * 10"))


def test_evaluate_call_budget(tender, py4j_calls):
    ev = _six(Evaluator())
    py4j_calls["on"] = True
    ev.evaluate(tender)
    py4j_calls["on"] = False
    assert py4j_calls["n"] <= 100, py4j_calls["n"]

    st = _three_stages()
    py4j_calls.update(on=True, n=0)
    st.evaluate(tender)
    py4j_calls["on"] = False
    assert py4j_calls["n"] <= 300, py4j_calls["n"]


def _jobs(spark, action):
    sc = spark.sparkContext
    group = f"bes-plan-test-{np.random.default_rng().integers(1 << 30)}"
    sc.setJobGroup(group, "plan test")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_counts(spark, tender):
    assert _jobs(spark, lambda: _six(Evaluator()).evaluate(tender).collect()) == 1
    assert _jobs(spark, lambda: _three_stages().evaluate(tender).collect()) <= 2


def test_no_cached_frames(spark, tender):
    # other tests share the session, so compare with the caches held before
    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    _three_stages().evaluate(tender).collect()
    assert persistent() <= before
    broken = (StagedEvaluator().add_stage("one", filter_type="top_n", top_n=5)
              .linear("price", 1.0).add_stage("two").linear("missing", 1.0))
    with pytest.raises(KeyError):
        broken.evaluate(tender)
    assert persistent() <= before


# --- python-scored criteria on the batched path ---------------------------


def test_untranslatable_formula_batched_matches_per_batch(spark):
    formula = "[10, 20, 30][1] + value * 0 + (value - mean) / 10"
    assert not Evaluator().formula("v", 1.0, formula).criteria["v"].translated
    df = spark.createDataFrame(
        [("t1", 1, 10.0), ("t1", 2, 50.0), ("t1", 3, 30.0),
         ("t2", 4, 100.0), ("t2", 5, 300.0)], "t string, id long, v double")

    def build():
        return Evaluator().formula("v", 0.7, formula).linear("id", 0.3)

    batched = {r["id"]: r for r in build().evaluate_batched(df, "t").collect()}
    for t in ("t1", "t2"):
        for r in build().evaluate(df.filter(F.col("t") == t)).collect():
            assert batched[r["id"]]["score_v"] == pytest.approx(r["score_v"], abs=1e-12)
            assert batched[r["id"]]["final_score"] == pytest.approx(r["final_score"], abs=1e-12)
            assert batched[r["id"]]["ranking"] == r["ranking"]


# --- SQL-text safety ------------------------------------------------------

HOSTILE = ["a`b", "x y", "p.q", "r-s", "1st", "select", "größe"]


def test_hostile_column_and_criterion_names(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({c: rng.uniform(0, 100, 6) for c in HOSTILE})
    df = spark.createDataFrame(pdf)
    ev = Evaluator()
    for k, c in enumerate(HOSTILE):
        ev.linear(c, k + 1.0, name=HOSTILE[-1 - k])
    rows = ev.evaluate(df).collect()
    total = sum(k + 1.0 for k in range(len(HOSTILE)))
    want = sum(_pandas_linear(pdf[c]) * (k + 1.0) for k, c in enumerate(HOSTILE)) / total
    by_first = {r[HOSTILE[0]]: r for r in rows}
    for i, v in pdf[HOSTILE[0]].items():
        r = by_first[v]
        assert r["final_score"] == pytest.approx(want[i], rel=1e-12)
        for k, c in enumerate(HOSTILE):
            assert r[f"score_{HOSTILE[-1 - k]}"] == pytest.approx(
                _pandas_linear(pdf[c])[i] * (k + 1.0), rel=1e-12)


def test_hostile_stage_names(spark):
    names = ["it's `one`", "back\\slash -2", "select", "ünï.code"]
    pdf = pd.DataFrame({"v": [90.0, 70.0, 50.0, 30.0, 10.0], "w": [5.0, 4.0, 3.0, 2.0, 1.0]})
    st = StagedEvaluator()
    for k, name in enumerate(names):
        last = k == len(names) - 1
        st.add_stage(name, filter_type=None if last else "top_n", top_n=4 - k)
        st.direct("v" if k % 2 == 0 else "w", 1.0)
    rows = {r["v"]: r for r in st.evaluate(spark.createDataFrame(pdf)).collect()}
    # top_n 4, 3, 2 on v, w, v: the lowest remaining bid leaves at each stage
    assert [rows[v]["eliminated_at_stage"] for v in pdf["v"]] == [None, None] + names[2::-1]
    assert rows[90.0]["ranking"] == 1 and rows[70.0]["ranking"] == 2
    assert rows[90.0]["ünï.code_score"] == pytest.approx(5.0)
    assert rows[70.0]["back\\slash__2_ranking"] == 2


def test_hostile_literals(spark):
    inf = float("inf")
    values = [1e308, -0.0, 0.1, -5.0]
    bands = [(-inf, 0.0, 10.0), (0.0, 0.1, 50.0), (0.1, inf, 90.0)]
    df = spark.createDataFrame(list(enumerate(values)), "id long, v double")
    s = pd.Series(values)
    band = pd.Series(0.0, index=s.index)
    for lo, hi, score in bands:
        band[(s >= lo) & (s < hi)] = score
    want = (band * 2.0 + s.clip(0, 100) * 1.0) / 3.0
    rows = {r["id"]: r for r in (Evaluator().threshold("v", 2.0, bands)
                                 .formula("v2", 1.0, "value")
                                 .evaluate(df.withColumn("v2", F.col("v"))).collect())}
    _check_ranked(rows, "final_score", want)

    # a NaN target makes every score NaN: all null, none ranked
    nan_target = Evaluator().template("v", 1.0, "budget_proximity", target=float("nan"))
    assert all(r["final_score"] is None and r["ranking"] is None
               for r in nan_target.evaluate(df).collect())


def test_formula_text_never_reaches_sql(spark, monkeypatch):
    hostile = "value) AS x, current_user() AS y --"
    with pytest.raises(FormulaTranslationError):
        formula_to_sql(hostile, "`v`", {})
    seen = []
    session_type = type(spark)
    original_sql = session_type.sql

    def spy(self, query, *a, **kw):
        seen.append(query)
        return original_sql(self, query, *a, **kw)

    monkeypatch.setattr(session_type, "sql", spy)
    df = spark.createDataFrame([(1, 3.0), (2, 4.0)], "id long, v double")
    rows = Evaluator().formula("v", 1.0, hostile).evaluate(df).collect()
    assert seen and not any("current_user" in q for q in seen)
    assert [r["score_v"] for r in rows] == [0.0, 0.0]
