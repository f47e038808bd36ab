"""Property-based invariants (SURVEY §5 strategy item 4), via hypothesis.

Each property runs a bounded number of examples (Spark round-trips are the
cost, so examples are few but adversarially shrunk): rank is min-rank over
ties; weight scaling with normalized weights leaves final scores unchanged;
formula scores are clipped to [0, 100]·weight; eliminated rows never rank.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings, strategies as st

from bid_evaluation_spark import Evaluator, StagedEvaluator

SET = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

scores_lists = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    min_size=1, max_size=8,
)


def _mk(spark, values):
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id long, v double"
    )


@SET
@given(values=scores_lists)
def test_rank_is_min_rank_over_ties(spark, values):
    res = Evaluator().direct("v", 1.0).evaluate(_mk(spark, values)).collect()
    got = {r["id"]: r["ranking"] for r in res}
    for r in res:
        expected = 1 + sum(1 for v in values if v > values[r["id"]])
        assert got[r["id"]] == expected


@SET
@given(values=scores_lists,
       k=st.floats(min_value=0.1, max_value=50, allow_nan=False))
def test_weight_scaling_invariance(spark, values, k):
    df = _mk(spark, values)
    base = Evaluator().linear("v", 0.6).direct("v", 0.4).evaluate(df).collect()
    scaled = Evaluator().linear("v", 0.6 * k).direct("v", 0.4 * k).evaluate(df).collect()
    b = {r["id"]: r["final_score"] for r in base}
    s = {r["id"]: r["final_score"] for r in scaled}
    for i in b:
        assert math.isclose(b[i], s[i], rel_tol=1e-9, abs_tol=1e-9)


@SET
@given(values=st.lists(
    st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32),
    min_size=1, max_size=8,
), w=st.floats(min_value=0.1, max_value=3, allow_nan=False))
def test_formula_scores_clipped(spark, values, w):
    res = (Evaluator()
           .formula("v", w, "(value - mean) * 10")
           .evaluate(_mk(spark, values)))
    for r in res.collect():
        sc = r["score_v"]
        assert sc is not None and -1e-9 <= sc <= 100 * w + 1e-9


@SET
@given(values=st.lists(
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False, width=32),
    min_size=2, max_size=8,
), threshold=st.floats(min_value=0, max_value=100, allow_nan=False))
def test_eliminated_rows_never_rank(spark, values, threshold):
    df = _mk(spark, values)
    stg = (StagedEvaluator()
           .add_stage("S1", filter_type="score_threshold", threshold=threshold)
           .direct("v", 1.0)
           .add_stage("S2")
           .direct("v", 1.0))
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")  # all-eliminated warning is a valid outcome
        res = stg.evaluate(df).collect()
    stg.release()
    for r in res:
        if r["eliminated_at_stage"] is not None:
            assert r["ranking"] is None
        else:
            assert r["ranking"] is not None
    # survivors are exactly the rows scoring >= threshold
    surv = {r["id"] for r in res if r["eliminated_at_stage"] is None}
    assert surv == {i for i, v in enumerate(values) if v >= threshold}


# --- formula grammar: native translation ≡ python-interpreter fallback ---

_formula_leaf = st.sampled_from(
    ["value", "min", "max", "mean", "std", "3", "0.5", "100", "7.25"]
)


@st.composite
def _formulas(draw, depth=0):
    """Random formulas inside the NATIVE-translatable grammar, so both
    execution paths must accept them and agree."""
    if depth >= 3 or draw(st.booleans()):
        return draw(_formula_leaf)
    form = draw(st.sampled_from(
        ["({a} {op} {b})", "abs({a})", "sqrt(abs({a}))",
         "clip({a}, 0, 100)", "min({a}, {b})", "max({a}, {b})",
         "({a} if {a} > {b} else {b})", "log(abs({a}) + 1)"]
    ))
    op = draw(st.sampled_from(["+", "-", "*", "/", "%", "//"]))
    a = draw(_formulas(depth=depth + 1))
    b = draw(_formulas(depth=depth + 1))
    return form.format(a=a, b=b, op=op)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(formula=_formulas(),
       values=st.lists(st.floats(min_value=-50, max_value=150,
                                 allow_nan=False, width=16),
                       min_size=2, max_size=5))
def test_formula_native_equals_fallback(spark, formula, values):
    """The AST→Column translation and the per-row python interpreter are two
    implementations of one contract — random grammar-valid formulas must
    produce identical scores through both."""
    df = _mk(spark, values)

    def run(force_udf):
        ev = Evaluator()
        ev.formula("v", 1.0, formula)
        ev.criteria["v"].config["force_udf"] = force_udf
        return {r["id"]: r["score_v"] for r in ev.evaluate(df).collect()}

    native, fallback = run(False), run(True)
    for i in native:
        assert math.isclose(native[i], fallback[i],
                            rel_tol=1e-9, abs_tol=1e-9), (
            formula, values[i], native[i], fallback[i])
