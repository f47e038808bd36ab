"""The evaluation plan: what it costs (Python→JVM calls, Spark jobs, SQL
executions, Java classes compiled, cached frames, temporary views), its shape
(layers, helper columns, exchanges), its two ways to run (interpreted for a
small driver-local input, compiled and lazy otherwise) and their agreement,
NaN and ±inf at the statistics, ranking and elimination boundary, the stage
filter against the reference rule, python-scored criteria on the batched
path, and
SQL-text safety for hostile names and literals. Expected scores are computed
with pandas in each test."""

import math
import re
import uuid
import warnings

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bid_evaluation_spark import Evaluator, StagedEvaluator
from bid_evaluation_spark.functions.formula import FormulaTranslationError, formula_to_sql
from bid_evaluation_spark.plans.pipeline import LOCAL_ROWS


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


def _paths(df):
    """The same rows as a driver-local input (scored interpreted) and as a
    non-local one (``select("*")``: compiled, lazy)."""
    assert df.isLocal()
    compiled = df.select("*")
    assert not compiled.isLocal()
    return [df, compiled]


def _local(spark, rows, schema):
    """A driver-local input (an Arrow table: NaN and null stay distinct)."""
    return spark.createDataFrame(spark.createDataFrame(rows, schema).toArrow())


def _fresh():
    """A weight no earlier plan in this JVM used, so Spark's code cache misses."""
    return 1.0 + uuid.uuid4().int % 10**9 / 1e10


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


def test_custom_function_gets_nan_for_missing_statistics(spark):
    # pandas' min of an all-NaN column and std of one value are NaN, where
    # Spark's aggregates are null; the function must not see None
    df = _local(spark, [(0, float("nan"), 1.0), (1, float("nan"), None)],
                "id long, v double, w double")
    for frame in _paths(df):
        ev = (Evaluator().custom("v", 1.0, lambda v, s: v - s["min"])
              .custom("w", 1.0, lambda v, s: v * 0 + s["std"]))
        assert [r["final_score"] for r in ev.evaluate(frame).collect()] == [None, None]


# --- what an evaluation costs ---------------------------------------------


@pytest.fixture
def py4j_calls():
    """Counts Python→JVM commands sent while the returned counter is active.

    py4j's memory-delete commands (``m\\nd\\n…``) are not counted: its
    finalizer thread sends them for objects freed earlier, by any test, up
    to a second later, so counting them made the budget depend on timing."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    counter = {"on": False, "n": 0}
    original = ClientServerConnection.send_command

    def counting(self, command):
        if counter["on"] and not command.startswith(delete):
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
    for frame in _paths(tender):
        ev = _six(Evaluator())
        py4j_calls.update(on=True, n=0)
        ev.evaluate(frame)
        py4j_calls["on"] = False
        assert py4j_calls["n"] <= 100, py4j_calls["n"]

        staged = _three_stages()
        py4j_calls.update(on=True, n=0)
        staged.evaluate(frame)
        py4j_calls["on"] = False
        assert py4j_calls["n"] <= 300, py4j_calls["n"]


@pytest.fixture
def sql_texts(spark, monkeypatch):
    """The texts sent to ``spark.sql`` (by any session) during the test."""
    seen = []
    session_type = type(spark)
    original_sql = session_type.sql

    def spy(self, query, *a, **kw):
        seen.append(query)
        return original_sql(self, query, *a, **kw)

    monkeypatch.setattr(session_type, "sql", spy)
    return seen


def _two_stages():
    return (StagedEvaluator()
            .add_stage("screen", filter_type="top_n", top_n=10)
            .linear("price", 1.0, higher_is_better=False).direct("quality", 1.0)
            .add_stage("award").min_ratio("price", 1.0))


@pytest.mark.parametrize("build, layers, combined", [
    (lambda: _six(Evaluator()), 4, False),
    (_three_stages, 13, True),
    (_two_stages, 8, False),
], ids=["plain", "three_stages", "two_stages_last_stage"])
def test_plan_shape(tender, sql_texts, build, layers, combined):
    # per stage: statistics, weighted scores, stage score, rank and
    # elimination; the final ranking is the last stage's rank unless stage
    # scores are combined
    for frame in _paths(tender):
        sql_texts.clear()
        build().evaluate(frame)
        text, = sql_texts
        assert len(re.findall(r"\) AS _bes_q\d+\b", text)) == layers
        assert not re.search(r"_bes_\d+_(rn|cut|tot)\b", text)
        assert ("_bes_rank" in text) == combined


_BUNDLE = {"min", "max", "mean", "median", "std", "q25", "q75"}


def _forced_udf_formula(ev):
    ev.formula("price", 1.0, "value * 2")
    ev.criteria["price"].config["force_udf"] = True
    return ev


@pytest.mark.parametrize("build, windows, report", [
    (lambda ev: ev.template("price", 1.0, "percentage_of_best", higher_is_better=True),
     {"max"}, {"price": {"max"}}),
    (lambda ev: ev.formula("price", 1.0, "max(value - 5, min)"), {"min"}, {"price": {"min"}}),
    (lambda ev: ev.threshold("days", 1.0, [(0, 60, 100)]).direct("quality", 1.0),
     set(), {}),  # a criterion that reads no statistic is not reported
    (lambda ev: ev.custom("price", 1.0, lambda v, s: v * 0 + s["median"]),
     {"min", "max", "mean", "std", "q"}, {"price": _BUNDLE}),
    (_forced_udf_formula, {"min", "max", "mean", "std", "q"}, {"price": _BUNDLE}),
], ids=["percentage_of_best", "formula_min_fold", "threshold_direct", "custom", "force_udf"])
def test_statistics_are_those_the_text_reads(tender, sql_texts, build, windows, report):
    # a SQL criterion's statistics are those its text names; a python-scored
    # one gets the whole bundle
    for frame in _paths(tender):
        sql_texts.clear()
        ev = build(Evaluator())
        ev.evaluate(frame, stats_mode="required")
        text = " ".join(sql_texts)
        assert set(re.findall(r" AS _bes_0_\d+_(min|max|mean|std|q)\b", text)) == windows
        if not windows:  # no statistics layer: scores, stage score, rank
            assert len(re.findall(r"\) AS _bes_q\d+\b", text)) == 3
        assert {n: set(s) for n, s in ev.get_statistics().items()} == report


def test_no_exchange_in_lazy_single_table_plans(tender):
    compiled = _paths(tender)[1]
    custom = Evaluator().linear("price", 1.0).custom("tech", 1.0, lambda v, s: (v - s["min"]) * 2.0)
    for ev in (_six(Evaluator()), _three_stages(), custom):
        plan = ev.evaluate(compiled)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


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
    local, compiled = _paths(tender)
    assert _jobs(spark, lambda: _six(Evaluator()).evaluate(local).collect()) == 1
    assert _jobs(spark, lambda: _three_stages().evaluate(local).collect()) == 1
    assert _jobs(spark, lambda: _six(Evaluator()).evaluate(compiled).collect()) == 1
    assert _jobs(spark, lambda: _three_stages().evaluate(compiled).collect()) <= 2
    # a local staged evaluation's stage results are slices of its delivered rows
    staged = _three_stages()
    staged.evaluate(local)
    assert _jobs(spark, lambda: [f.collect() for r in staged.get_stage_results()
                                 for f in (r.result_df, r.advanced_df, r.eliminated_df)]) == 0


def _executions(spark, action):
    """SQL executions Spark started while ``action`` ran (execution ids are
    consecutive; the status store may have dropped old executions, never
    the newest)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def newest():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return store.executionsList().last().executionId()

    before = newest()
    action()
    return newest() - before


def test_sql_executions_per_local_evaluation(spark, tender):
    # the input view, the interpreted job and the consumer's collect; a
    # python-scored criterion adds the view its grouped step reads
    def custom():
        return (Evaluator().linear("price", 1.0)
                .custom("tech", 1.0, lambda v, s: (v - s["min"]) * 2.0))

    for build, budget in ((lambda: _six(Evaluator()), 3), (_three_stages, 3), (custom, 4)):
        build().evaluate(tender).collect()  # warm the path once
        assert _executions(spark, lambda: build().evaluate(tender).collect()) <= budget
        assert _jobs(spark, lambda: build().evaluate(tender).collect()) == 1


def test_sql_executions_per_lazy_evaluation(spark, tender):
    # the input view and the consumer's action; a staged evaluation adds its
    # counting job
    compiled = _paths(tender)[1]
    for build, budget in ((lambda: _six(Evaluator()), 2), (_three_stages, 3)):
        build().evaluate(compiled).collect()  # warm the path once
        assert _executions(spark, lambda: build().evaluate(compiled).collect()) <= budget


def _compiled_classes(spark, action):
    """Java classes Spark compiled (Janino) while ``action`` ran."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = metric.getCount()
    action()
    return metric.getCount() - before


def _fresh_plain():
    return (Evaluator().linear("price", _fresh(), higher_is_better=False)
            .threshold("days", _fresh(), [(0, 30, 100), (30, _fresh() * 40, 60)])
            .min_ratio("quality", _fresh()))


def _fresh_staged():
    return (StagedEvaluator()
            .add_stage("screen", filter_type="score_threshold", threshold=_fresh() * 20)
            .linear("price", _fresh(), higher_is_better=False).direct("quality", _fresh())
            .add_stage("short", filter_type="top_n", top_n=10, on_tie="exclude")
            .linear("experience", _fresh())
            .add_stage("award").min_ratio("price", _fresh()))


def test_no_java_compiled_for_small_local_tenders(spark, tender):
    local, compiled = _paths(tender)
    for build in (_fresh_plain, _fresh_staged):
        build().evaluate(local).collect()  # warm the path once
        assert _compiled_classes(spark, lambda: build().evaluate(local).collect()) == 0
        assert _compiled_classes(spark, lambda: build().evaluate(compiled).collect()) > 0

    rng = np.random.default_rng(3)
    n = LOCAL_ROWS + 1
    big = spark.createDataFrame(pd.DataFrame({
        "price": rng.uniform(1, 100, n), "quality": rng.uniform(1, 100, n),
        "days": rng.integers(0, 90, n), "experience": rng.integers(0, 30, n)}))
    assert big.isLocal()
    assert _compiled_classes(spark, lambda: _fresh_plain().evaluate(big).collect()) > 0
    at_cap = spark.createDataFrame(big.limit(LOCAL_ROWS).toPandas())
    # the first collect of a new output schema compiles one row projection
    # (Spark's code cache then reuses it), so warm that once
    _fresh_plain().evaluate(at_cap).collect()
    assert _compiled_classes(spark, lambda: _fresh_plain().evaluate(at_cap).collect()) == 0


def test_local_result_lives_in_callers_session(spark, tender):
    result = _six(Evaluator()).evaluate(tender)
    staged = _three_stages()
    staged_result = staged.evaluate(tender)
    frames = [result, staged_result] + [f for r in staged.get_stage_results()
                                        for f in (r.result_df, r.advanced_df, r.eliminated_df)]
    assert all(f.sparkSession is spark for f in frames)
    view = f"bes_result_{uuid.uuid4().hex}"
    result.createOrReplaceTempView(view)
    try:
        assert spark.sql(f"SELECT count(*) AS n FROM {view}").first()["n"] == 40
    finally:
        spark.catalog.dropTempView(view)
    # the interpreted clone's confs stay off the caller's session
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"


def test_stage_results_agree_across_paths(tender):
    got = []
    for frame in _paths(tender):
        staged = _three_stages()
        staged.evaluate(frame, include_details=False)
        got.append([sorted(map(_row_key, f.collect())) for r in staged.get_stage_results()
                    for f in (r.result_df, r.advanced_df, r.eliminated_df)])
    assert got[0] == got[1]
    scored, advanced, eliminated = got[0][:3]
    assert len(scored) == 40 and len(advanced) + len(eliminated) == 40


def test_runtime_conf_of_caller_applies_on_both_paths(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1.0, 5.0, 3.0], "A": [9.0, 8.0, 7.0]}))
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        outs = [Evaluator().linear("a", 1.0).evaluate(f).collect() for f in _paths(df)]
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
    assert outs[0] == outs[1]
    assert [r["a"] for r in outs[0]] == [5.0, 3.0, 1.0]
    errors = []
    for frame in _paths(df):  # case-insensitive: `a` is ambiguous on both paths
        with pytest.raises(AnalysisException) as caught:
            Evaluator().linear("a", 1.0).evaluate(frame).collect()
        errors.append(caught.value.getCondition())
    assert errors[0] == errors[1]


def test_clone_session_copies_confs_and_views(spark):
    # the interpreted path relies on this private JVM API
    view = f"bes_view_{uuid.uuid4().hex}"
    spark.createDataFrame([(1,)], "x long").createOrReplaceTempView(view)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        clone = spark._jsparkSession.cloneSession()
        assert clone.conf().get("spark.sql.caseSensitive") == "true"
        assert clone.catalog().tableExists(view)
        clone.conf().set("spark.sql.codegen.wholeStage", "false")
        assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
        spark.catalog.dropTempView(view)


def test_local_errors_surface_in_evaluate(spark, tender):
    def broken(values, stats):
        raise ValueError("broken scorer")

    local, compiled = _paths(tender)
    lazy = Evaluator().custom("tech", 1.0, broken).evaluate(compiled)
    with pytest.raises(Exception, match="broken scorer"):
        lazy.collect()
    with pytest.raises(Exception, match="broken scorer"):
        Evaluator().custom("tech", 1.0, broken).evaluate(local)


def test_passthrough_columns_round_trip(spark):
    import datetime as dt
    from decimal import Decimal

    df = _local(
        spark, [("x", dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5, 678901), Decimal("1.25"),
          [1, 2], {"k": 1.5}, b"\x00\x01", 3.0),
         (None, None, None, None, None, None, None, 1.0)],
        "s string, d date, t timestamp, m decimal(10, 2), a array<int>, "
        "p map<string, double>, b binary, v double")
    outs = [Evaluator().linear("v", 1.0).evaluate(f) for f in _paths(df)]
    assert outs[0].schema == outs[1].schema
    assert outs[0].collect() == outs[1].collect()


def test_input_columns_named_like_outputs(spark):
    # re-scoring an earlier result: its `final_score` is a criterion column,
    # replaced in place by the new one; its `score_v`, named like a detail
    # column, stays as it is when details are left out
    pdf = pd.DataFrame({"v": [90.0, 70.0, 50.0], "final_score": [5.0, 6.0, 7.0],
                        "score_v": [0.5, 0.6, 0.7]})
    for df in _paths(spark.createDataFrame(pdf)):
        ev = Evaluator().linear("v", 1.0).linear("final_score", 1.0)
        result = ev.evaluate(df, include_details=False)
        assert result.columns == ["v", "final_score", "score_v", "ranking"]
        assert sorted(r["score_v"] for r in result.collect()) == [0.5, 0.6, 0.7]
        assert ev.get_statistics()["final_score"]["mean"] == 6.0


def _bes_views(session):
    return {t.name for t in session.catalog.listTables() if t.name.startswith("_bes_")}


def test_no_temp_views_left_in_callers_session(spark, tender):
    def broken(values, stats):
        raise ValueError("broken scorer")

    ambiguous = spark.createDataFrame(pd.DataFrame({"a": [1.0, 5.0], "A": [9.0, 8.0]}))
    before = _bes_views(spark)
    for frame, clash in zip(_paths(tender), _paths(ambiguous)):
        ev = _six(Evaluator())
        ev.evaluate(frame).collect()
        ev.get_statistics()
        staged = _three_stages()
        staged.evaluate(frame).collect()
        staged.get_statistics()
        for r in staged.get_stage_results():
            r.eliminated_df.collect()
        assert _bes_views(spark) == before
        failing = StagedEvaluator().add_stage("one").custom("tech", 1.0, broken)
        with pytest.raises(Exception, match="broken scorer"):
            failing.evaluate(frame).collect()
        with pytest.raises(AnalysisException):  # `a` is ambiguous: analysis fails
            Evaluator().linear("a", 1.0).evaluate(clash).collect()
        assert _bes_views(spark) == before
    # a lazy evaluation whose statistics job fails
    lazy = Evaluator().custom("tech", 1.0, broken)
    lazy.evaluate(_paths(tender)[1])
    with pytest.raises(Exception, match="broken scorer"):
        lazy.get_statistics()
    assert _bes_views(spark) == before
    # a local plan's views live in its clone only
    ev = _six(Evaluator())
    ev.evaluate(tender)
    clone = ev._last_plan._frame.sparkSession
    assert clone is not spark and _bes_views(clone) and _bes_views(spark) == before


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


# --- a null stage score fails every filter, as a pandas NaN comparison ----


def _pandas_advances(scores, filter_type, threshold=None, top_n=None, on_tie="include"):
    """The reference's stage filter over the active rows' stage scores."""
    if filter_type == "score_threshold":
        return scores >= threshold
    if on_tie == "include":
        return scores.rank(ascending=False, method="min") <= top_n
    if len(scores) <= top_n:
        return pd.Series(True, index=scores.index)
    cutoff = scores.sort_values(ascending=False).iloc[top_n - 1]
    return scores > cutoff if int((scores >= cutoff).sum()) > top_n else scores >= cutoff


@pytest.mark.parametrize("flt", [
    {"filter_type": "score_threshold", "threshold": 50},
    {"filter_type": "top_n", "top_n": 3, "on_tie": "include"},
    {"filter_type": "top_n", "top_n": 4, "on_tie": "include"},
    {"filter_type": "top_n", "top_n": 3, "on_tie": "exclude"},
    {"filter_type": "top_n", "top_n": 4, "on_tie": "exclude"},  # population <= n: all advance
], ids=["threshold", "include3", "include4", "exclude3", "exclude4"])
def test_null_stage_score_is_eliminated(spark, flt):
    q = [90.0, float("nan"), 10.0, 60.0]
    df = _local(spark, [(i, v, 1.0 + i) for i, v in enumerate(q)], "id long, q double, w double")
    advances = _pandas_advances(pd.Series(q), **flt)
    want = [None if a else "S1" for a in advances]
    for frame in _paths(df):
        st = (StagedEvaluator().add_stage("S1", **flt).direct("q", 1.0)
              .add_stage("S2").direct("w", 1.0))
        rows = {r["id"]: r for r in st.evaluate(frame).collect()}
        assert [rows[i]["eliminated_at_stage"] for i in range(4)] == want
        assert rows[1]["s1_score"] is None and rows[1]["s1_ranking"] is None


# half null or NaN, so that fewer than n bids often have a score
_STAGE_SCORE = st.one_of(st.none(), st.just(float("nan")), st.sampled_from([0.0, 50.0, 100.0]),
                         st.floats(min_value=0.0, max_value=100.0))


@st.composite
def _scores_and_filter(draw):
    """0–8 stage scores (finite, tied, NaN, null) and a stage filter: a
    threshold, or ``top_n`` keeping ties or not, n from 1 to len + 1."""
    scores = draw(st.lists(_STAGE_SCORE, max_size=8))
    kind = draw(st.sampled_from(["threshold", "include", "exclude"]))
    if kind == "threshold":
        return scores, {"filter_type": "score_threshold",
                        "threshold": draw(st.sampled_from([0.0, 50.0, 75.0]))}
    return scores, {"filter_type": "top_n", "on_tie": kind,
                    "top_n": draw(st.integers(min_value=1, max_value=len(scores) + 1))}


def _score_bids(spark, scores, batch=None):
    """A driver-local bid table whose first stage scores ``scores``."""
    rows = [(i, v, 1.0 + i) for i, v in enumerate(scores)]
    if batch is None:
        return _local(spark, rows, "id long, q double, w double")
    return _local(spark, [(batch, *r) for r in rows], "t long, id long, q double, w double")


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(first=_scores_and_filter(), other=st.lists(_STAGE_SCORE, max_size=8))
# more bids than n, but fewer than n with a score: the n-th score is null
@example(first=([None, 50.0, None], {"filter_type": "top_n", "on_tie": "exclude", "top_n": 2}),
         other=[50.0, None, 10.0])
def test_stage_filter_matches_reference(spark, first, other):
    scores, flt = first

    def build():
        return (StagedEvaluator().add_stage("S1", **flt).direct("q", 1.0)
                .add_stage("S2").direct("w", 1.0))

    advances = _pandas_advances(pd.Series(scores, dtype="float64"), **flt)
    want = [None if a else "S1" for a in advances]
    for frame in _paths(_score_bids(spark, scores)):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # every bid may be eliminated
            rows = {r["id"]: r for r in build().evaluate(frame).collect()}
        assert [rows[i]["eliminated_at_stage"] for i in range(len(scores))] == want

    # two tenders under a batch key: each gets its standalone rows
    batched = _score_bids(spark, scores, 1).unionByName(_score_bids(spark, other, 2))
    got = {1: [], 2: []}
    for r in build().evaluate_batched(batched, "t").collect():
        got[r["t"]].append(r.asDict())
    for t, tender_scores in ((1, scores), (2, other)):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            alone = build().evaluate(_score_bids(spark, tender_scores))
        # a standalone result drops the columns of stages no bid reached
        mine = [_row_key([r[c] for c in alone.columns]) for r in got[t]]
        assert sorted(mine, key=repr) == sorted(map(_row_key, alone.collect()), key=repr)


# --- the interpreted and the compiled path agree --------------------------

_CELL = st.one_of(
    st.sampled_from([float("nan"), float("inf"), -float("inf"), None, 0.0, 1.0]),
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False))


@st.composite
def _columns(draw):
    n = draw(st.integers(min_value=0, max_value=6))
    cols = {}
    for c in ("a", "b", "c"):
        shape = draw(st.sampled_from(["mixed", "constant", "tied"]))
        if shape == "constant":
            cols[c] = [draw(_CELL)] * n
        elif shape == "tied":
            cols[c] = draw(st.lists(st.sampled_from([2.0, 5.0]), min_size=n, max_size=n))
        else:
            cols[c] = draw(st.lists(_CELL, min_size=n, max_size=n))
    return cols


_KINDS = ["linear", "linear_low", "min_ratio", "threshold", "direct", "formula",
          "template", "builtin", "custom", "untranslatable"]


def _add(ev, kind, col, w):
    if kind == "linear":
        return ev.linear(col, w)
    if kind == "linear_low":
        return ev.linear(col, w, higher_is_better=False)
    if kind == "min_ratio":
        return ev.min_ratio(col, w)
    if kind == "threshold":
        return ev.threshold(col, w, [(-1e9, 2.0, 30), (2.0, 1e9, 80)])
    if kind == "direct":
        return ev.direct(col, w)
    if kind == "formula":
        return ev.formula(col, w, "(value - min) / (max - min) * 100")
    if kind == "template":
        return ev.template(col, w, "distance_from_mean")
    if kind == "builtin":
        return ev.custom(col, w, "proximity_to_median")
    if kind == "custom":
        return ev.custom(col, w, lambda v, s: (v - s["min"]) * 2.0)
    return ev.formula(col, w, "[10, 20, 30][1] + value * 0 + (value - mean) / 10")


_CRITERIA = st.lists(st.tuples(st.sampled_from(_KINDS), st.sampled_from("abc"),
                               st.sampled_from([0.5, 1.0, 2.0])), min_size=1, max_size=3)
_FILTERS = st.one_of(
    st.none(),
    st.fixed_dictionaries({"filter_type": st.just("score_threshold"),
                           "threshold": st.sampled_from([0.0, 40.0, 80.0])}),
    st.fixed_dictionaries({"filter_type": st.just("top_n"),
                           "top_n": st.integers(min_value=1, max_value=4),
                           "on_tie": st.sampled_from(["include", "exclude"])}))
_STAGES = st.lists(st.tuples(_CRITERIA, _FILTERS), min_size=1, max_size=3)


def _plain(criteria):
    ev = Evaluator()
    for kind, col, w in criteria:
        _add(ev, kind, col, w)
    return ev


def _staged(stages, final_mode):
    se = StagedEvaluator(final_score_mode=final_mode)
    for k, (criteria, flt) in enumerate(stages):
        se.add_stage(f"S{k}", **(flt or {}))
        for kind, col, w in criteria:
            _add(se, kind, col, w)
    return se


def _row_key(row):
    """A row with NaN made comparable (NaN and null stay distinct)."""
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cols=_columns(), plain=_CRITERIA, stages=_STAGES,
       final_mode=st.sampled_from(["last_stage", "weighted_combination"]),
       use_staged=st.booleans())
def test_interpreted_and_compiled_paths_agree(spark, cols, plain, stages, final_mode, use_staged):
    n = len(cols["a"])
    df = _local(spark, [(i, *(cols[c][i] for c in "abc")) for i in range(n)],
                "id long, a double, b double, c double")
    got = []
    for frame in _paths(df):
        ev = _staged(stages, final_mode) if use_staged else _plain(plain)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            result = ev.evaluate(frame)
        # the local plan's observed counts, the lazy plan's counting job
        counts = ev._last_plan.active_counts() if use_staged else None
        eliminated = [str(w.message) for w in caught if "were eliminated" in str(w.message)]
        got.append((result.columns, [_row_key(r) for r in result.collect()], counts, eliminated))
    assert got[0] == got[1]


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
    total = sum(k + 1.0 for k in range(len(HOSTILE)))
    want = sum(_pandas_linear(pdf[c]) * (k + 1.0) for k, c in enumerate(HOSTILE)) / total
    for df in _paths(spark.createDataFrame(pdf)):
        ev = Evaluator()
        for k, c in enumerate(HOSTILE):
            ev.linear(c, k + 1.0, name=HOSTILE[-1 - k])
        by_first = {r[HOSTILE[0]]: r for r in ev.evaluate(df).collect()}
        for i, v in pdf[HOSTILE[0]].items():
            r = by_first[v]
            assert r["final_score"] == pytest.approx(want[i], rel=1e-12)
            for k, c in enumerate(HOSTILE):
                assert r[f"score_{HOSTILE[-1 - k]}"] == pytest.approx(
                    _pandas_linear(pdf[c])[i] * (k + 1.0), rel=1e-12)


def test_hostile_stage_names(spark):
    names = ["it's `one`", "back\\slash -2", "select", "ünï.code"]
    pdf = pd.DataFrame({"v": [90.0, 70.0, 50.0, 30.0, 10.0], "w": [5.0, 4.0, 3.0, 2.0, 1.0]})
    for df in _paths(spark.createDataFrame(pdf)):
        staged = StagedEvaluator()
        for k, name in enumerate(names):
            last = k == len(names) - 1
            staged.add_stage(name, filter_type=None if last else "top_n", top_n=4 - k)
            staged.direct("v" if k % 2 == 0 else "w", 1.0)
        rows = {r["v"]: r for r in staged.evaluate(df).collect()}
        # top_n 4, 3, 2 on v, w, v: the lowest remaining bid leaves at each stage
        assert [rows[v]["eliminated_at_stage"] for v in pdf["v"]] == [None, None] + names[2::-1]
        assert rows[90.0]["ranking"] == 1 and rows[70.0]["ranking"] == 2
        assert rows[90.0]["ünï.code_score"] == pytest.approx(5.0)
        assert rows[70.0]["back\\slash__2_ranking"] == 2


def test_hostile_literals(spark):
    inf = float("inf")
    values = [1e308, -0.0, 0.1, -5.0]
    bands = [(-inf, 0.0, 10.0), (0.0, 0.1, 50.0), (0.1, inf, 90.0)]
    pdf = pd.DataFrame({"id": range(len(values)), "v": values, "v2": values})
    s = pd.Series(values)
    band = pd.Series(0.0, index=s.index)
    for lo, hi, score in bands:
        band[(s >= lo) & (s < hi)] = score
    want = (band * 2.0 + s.clip(0, 100) * 1.0) / 3.0
    for df in _paths(spark.createDataFrame(pdf)):
        rows = {r["id"]: r for r in (Evaluator().threshold("v", 2.0, bands)
                                     .formula("v2", 1.0, "value").evaluate(df).collect())}
        _check_ranked(rows, "final_score", want)

        # a NaN target makes every score NaN: all null, none ranked
        nan_target = Evaluator().template("v", 1.0, "budget_proximity", target=float("nan"))
        assert all(r["final_score"] is None and r["ranking"] is None
                   for r in nan_target.evaluate(df).collect())


def test_formula_text_never_reaches_sql(spark, sql_texts):
    hostile = "value) AS x, current_user() AS y --"
    with pytest.raises(FormulaTranslationError):
        formula_to_sql(hostile, "`v`", {})
    df = spark.createDataFrame([(1, 3.0), (2, 4.0)], "id long, v double")
    rows = Evaluator().formula("v", 1.0, hostile).evaluate(df).collect()
    assert sql_texts and not any("current_user" in q for q in sql_texts)
    assert [r["score_v"] for r in rows] == [0.0, 0.0]
