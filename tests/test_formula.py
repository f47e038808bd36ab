"""Formula-criterion semantics: golden values from the reference's
FormulaCriterion tests (``tests/test_criteria.py:76-216``), run through BOTH
the native-translation path and the pandas-UDF fallback."""

import pytest

from bid_evaluation_spark import Evaluator
from bid_evaluation_spark.functions.formula import (
    FormulaTranslationError,
    formula_to_sql,
)
from tests.conftest import rows_by


def eval_formula(df, formula, variables=None, force_udf=False):
    ev = Evaluator()
    ev.formula("x", 1.0, formula, variables)
    crit = ev.criteria["x"]
    crit.config["force_udf"] = force_udf
    return rows_by(ev.evaluate(df))


@pytest.fixture
def xs(spark):
    return spark.createDataFrame(
        [("A", 10.0), ("B", 5.0), ("C", 8.0)], "vendor string, x double"
    )


@pytest.mark.parametrize("force_udf", [False, True])
def test_value_times_ten(xs, force_udf):
    r = eval_formula(xs, "value * 10", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx(50.0)


@pytest.mark.parametrize("force_udf", [False, True])
def test_stats_formula(xs, force_udf):
    # reference golden: (value-min)/(max-min)*100 → [100, 0, 60]
    r = eval_formula(xs, "(value - min) / (max - min) * 100", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx(0.0)
    assert r["C"]["score_x"] == pytest.approx(60.0)


@pytest.mark.parametrize("force_udf", [False, True])
def test_variables(spark, force_udf):
    df = spark.createDataFrame(
        [("A", 100000.0), ("B", 95000.0), ("C", 110000.0)], "vendor string, x double"
    )
    # FIXTURES F-1 golden: target proximity → A=100, B=95, C=90
    r = eval_formula(df, "100 - abs(value - target) / target * 100",
                     variables={"target": 100000}, force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx(95.0)
    assert r["C"]["score_x"] == pytest.approx(90.0)


@pytest.mark.parametrize("force_udf", [False, True])
def test_clipping(spark, force_udf):
    df = spark.createDataFrame([("A", 500.0), ("B", -50.0)], "vendor string, x double")
    r = eval_formula(df, "value", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(100.0)  # clipped high
    assert r["B"]["score_x"] == pytest.approx(0.0)  # clipped low


@pytest.mark.parametrize("force_udf", [False, True])
def test_error_to_zero(xs, force_udf):
    # reference: '1 / 0' → all rows 0.0
    r = eval_formula(xs, "1 / 0", force_udf=force_udf)
    assert all(v["score_x"] == 0.0 for v in r.values())


@pytest.mark.parametrize("force_udf", [False, True])
@pytest.mark.parametrize("formula", [
    "clip(value / value, 0, 100)",
    "min(value / value, 50)",
    "max(value / value, 50)",
])
def test_error_inside_min_max_clip_to_zero(spark, formula, force_udf):
    # ÷0 inside min/max/clip must stay an error → 0.0 — Spark least/greatest
    # skip nulls, which once turned clip(0/0, 0, 100) into 100 (hypothesis
    # counterexample); python min/max would have raised instead
    df = spark.createDataFrame([("A", 0.0)], "vendor string, x double")
    r = eval_formula(df, formula, force_udf=force_udf)
    assert r["A"]["score_x"] == 0.0


@pytest.mark.parametrize("force_udf", [False, True])
def test_math_functions(spark, force_udf):
    df = spark.createDataFrame([("A", 16.0), ("B", 4.0)], "vendor string, x double")
    r = eval_formula(df, "sqrt(value) * 10", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(40.0)
    assert r["B"]["score_x"] == pytest.approx(20.0)
    r = eval_formula(df, "clip(value * 10, 0, 100)", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(100.0)
    r = eval_formula(df, "log10(value) * 50", force_udf=force_udf)
    assert r["B"]["score_x"] == pytest.approx(50 * 0.6020599913, abs=1e-6)


@pytest.mark.parametrize("force_udf", [False, True])
def test_min_max_call_vs_name(xs, force_udf):
    # bare min/max are stats; call-position min/max are least/greatest
    r = eval_formula(xs, "max(value - 5, min)", force_udf=force_udf)
    # min stat = 5 → A: max(5,5)=5, B: max(0,5)=5, C: max(3,5)=5
    assert all(v["score_x"] == pytest.approx(5.0) for v in r.values())


@pytest.mark.parametrize("force_udf", [False, True])
def test_conditional_expression(xs, force_udf):
    r = eval_formula(xs, "100 if value >= mean else 20", force_udf=force_udf)
    # mean = 23/3 ≈ 7.67 → A,C ≥ mean; B below
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx(20.0)
    assert r["C"]["score_x"] == pytest.approx(100.0)


@pytest.mark.parametrize("force_udf", [False, True])
def test_mean_median_std_names(xs, force_udf):
    r = eval_formula(xs, "mean * 0 + median", force_udf=force_udf)
    assert all(v["score_x"] == pytest.approx(8.0) for v in r.values())


def test_default_identity_formula(xs):
    r = eval_formula(xs, "value")
    assert r["A"]["score_x"] == pytest.approx(10.0)


def test_syntax_error_all_zero(xs):
    r = eval_formula(xs, "value ++* 2")
    assert all(v["score_x"] == 0.0 for v in r.values())


def test_unknown_name_all_zero(xs):
    # unknown name → per-row NameError → 0.0 (falls back to UDF path)
    r = eval_formula(xs, "value * nope")
    assert all(v["score_x"] == 0.0 for v in r.values())


def test_compound_types_fallback(xs):
    # list subscript — outside the native grammar, handled by the fallback
    r = eval_formula(xs, "[10, 20, 30][1] + value * 0")
    assert all(v["score_x"] == pytest.approx(20.0) for v in r.values())


def test_compound_types_grammar(xs):
    """EvalWithCompoundTypes parity (reference criteria.py:126): list/tuple/
    set/dict literals, membership, slices, and comprehensions all evaluate
    with python semantics in the fallback; errors still map to 0.0."""
    # membership over a set literal: x ∈ {5, 8} → 80 for B,C; else 20
    r = eval_formula(xs, "80 if value in {5, 8} else 20")
    assert r["A"]["score_x"] == pytest.approx(20.0)
    assert r["B"]["score_x"] == pytest.approx(80.0)
    assert r["C"]["score_x"] == pytest.approx(80.0)

    # dict lookup keyed by a variable
    r = eval_formula(xs, "{'lo': 10, 'hi': 90}[band] + value * 0",
                     variables={"band": "hi"})
    assert all(v["score_x"] == pytest.approx(90.0) for v in r.values())

    # slice: max() over a list slice (1-arg max works in the fallback)
    r = eval_formula(xs, "max([5, 30, 70, 90][1:3]) + value * 0")
    assert all(v["score_x"] == pytest.approx(70.0) for v in r.values())

@pytest.mark.parametrize("force_udf", [False, True])
def test_membership_and_list_minmax_native(xs, force_udf):
    """The natively-translated slice of the compound-type grammar:
    list/tuple/set-literal membership (isin-style equality fold) and
    min/max over a list literal (same folds as the multi-arg forms).
    Both paths must agree golden-for-golden."""
    # membership over a list literal
    r = eval_formula(xs, "100 if value in [5, 8] else 25",
                     force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(25.0)
    assert r["B"]["score_x"] == pytest.approx(100.0)
    assert r["C"]["score_x"] == pytest.approx(100.0)

    # not-in over a tuple literal
    r = eval_formula(xs, "75 if value not in (10,) else 40",
                     force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(40.0)
    assert r["B"]["score_x"] == pytest.approx(75.0)
    assert r["C"]["score_x"] == pytest.approx(75.0)

    # elements may be expressions (stats enter the container)
    r = eval_formula(xs, "90 if value in [min, max] else 10",
                     force_udf=force_udf)  # min=5, max=10
    assert r["A"]["score_x"] == pytest.approx(90.0)
    assert r["B"]["score_x"] == pytest.approx(90.0)
    assert r["C"]["score_x"] == pytest.approx(10.0)

    # max([value, mean]): mean = 23/3
    r = eval_formula(xs, "max([value, mean])", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(10.0)
    assert r["B"]["score_x"] == pytest.approx(23.0 / 3.0)
    assert r["C"]["score_x"] == pytest.approx(8.0)

    # min over a tuple literal; single-element list degenerates to identity
    r = eval_formula(xs, "min((value, 6)) + min([value])",
                     force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(16.0)
    assert r["B"]["score_x"] == pytest.approx(10.0)
    assert r["C"]["score_x"] == pytest.approx(14.0)


def test_membership_native_translation_boundary(spark):
    from pyspark.sql import functions as F

    names = {"min": 1.0, "max": 2.0}
    # inside the native grammar now
    for f in ["value in [1, 2, 3]", "value not in (4, 5)",
              "value in {5, 8}", "max([value, 50])",
              "min((value, 6, max))"]:
        formula_to_sql(f, "x", names)
    # still outside: non-literal containers, chained membership, min([]),
    # and the left operand appearing among the elements (identity semantics)
    for f in ["value in max", "1 < value in [2]", "min([])",
              "value in [1, [2][0]]", "value in [value, 1]",
              "value not in (1, value)"]:
        with pytest.raises(FormulaTranslationError):
            formula_to_sql(f, "x", names)


def test_membership_identity_nan(spark):
    """Python ``in`` checks identity before equality: ``value in [value,
    7]`` is True even for NaN value (the names dict yields the same float
    object) — a value-equality fold would say False, so the translator must
    route these to the interpreter (ADVICE r8)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("A", float("nan")), ("B", 5.0)], "vendor string, x double")
    r = eval_formula(df, "100 if value in [value, 7] else 25")
    assert r["A"]["score_x"] == pytest.approx(100.0)
    assert r["B"]["score_x"] == pytest.approx(100.0)
    # NaN against a NON-identical container still never matches, natively
    r = eval_formula(df, "100 if value in [5, 7] else 25")
    assert r["A"]["score_x"] == pytest.approx(25.0)
    assert r["B"]["score_x"] == pytest.approx(100.0)


def test_list_comprehension_golden(xs):
    # A x=10 → bound 90 → max([10,60]) = 60; B x=5 → 45 → 10; C x=8 → 72 → 60
    r = eval_formula(xs, "max([t for t in [10, 60, 95] if t <= value * 9])")
    assert r["A"]["score_x"] == pytest.approx(60.0)
    assert r["B"]["score_x"] == pytest.approx(10.0)
    assert r["C"]["score_x"] == pytest.approx(60.0)

    # dict comprehension + subscript; generator expr inside max
    r = eval_formula(xs, "{k: k * 2 for k in [1, 2]}[2] * 10 + value * 0")
    assert all(v["score_x"] == pytest.approx(40.0) for v in r.values())

    # empty comprehension result → max(()) raises → 0.0 per contract
    r = eval_formula(xs, "max([t for t in [50] if t < 0])")
    assert all(v["score_x"] == 0.0 for v in r.values())


def test_weight_applied_after_clip(spark):
    df = spark.createDataFrame([("A", 500.0)], "vendor string, x double")
    ev = Evaluator()
    ev.formula("x", 0.5, "value")
    r = rows_by(ev.evaluate(df))
    # clip to 100 first, then × weight → 50 (reference order: clip then *weight)
    assert r["A"]["score_x"] == pytest.approx(50.0)


def test_native_translation_used_when_possible(spark):
    from pyspark.sql import functions as F

    # these must translate without raising
    for f in ["value * 10", "(value - min) / (max - min) * 100",
              "clip(value, 0, 100)", "max(value, 50)", "100 if value > 3 else 0",
              "value % 3", "value // 2", "value ** 2"]:
        formula_to_sql(f, "x", {"min": 1.0, "max": 2.0})
    # these must NOT translate (fallback handles them)
    for f in ["[1,2][0]", "min(value)", "foo(value)", "value & 3"]:
        with pytest.raises(FormulaTranslationError):
            formula_to_sql(f, "x", {"min": 1.0, "max": 2.0})


@pytest.mark.parametrize("force_udf", [False, True])
@pytest.mark.parametrize("formula,expected", [
    # the r2 hypothesis counterexample: sqrt returns np.float64, so the
    # reference's 3 / np.sqrt(0.0) is IEEE inf → clip → 100, NOT a
    # ZeroDivisionError → 0 (that only happens for pure-python operands)
    ("3 / sqrt(abs(value + value))", 100.0),
    # negative numerator → -inf → clips to 0
    ("(0 - 3) / sqrt(abs(value))", 0.0),
    # 0/0 over numpy operands → nan → 0.0
    ("sqrt(value) / sqrt(value)", 0.0),
    # inf must survive as a genuine intermediate, not a final mapping
    ("sqrt(1 / sqrt(value))", 100.0),       # sqrt(inf) = inf → 100
    ("1 / (1 / sqrt(value))", 0.0),         # 1/inf = 0
    ("clip(3 / sqrt(value), 0, 80) + 5", 85.0),  # clip(inf,0,80) = 80
    # numpy-typed % / // by zero: nan → 0, inf → 100
    ("5 % sqrt(value)", 0.0),
    ("5 // sqrt(value)", 100.0),
    # pure-python ÷0 still errors → 0 even though a numpy value sits nearby
    ("sqrt(value) + 3 / 0", 0.0),
])
def test_numpy_inf_semantics(spark, formula, expected, force_udf):
    """Reference parity: np.sqrt/np.log return np.float64, whose ÷0 follows
    IEEE-754 (±inf/nan, never raising) — VERDICT r2 'What's wrong #1'."""
    df = spark.createDataFrame([("A", 0.0)], "vendor string, x double")
    r = eval_formula(df, formula, force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(expected)


@pytest.mark.parametrize("force_udf", [False, True])
def test_stats_are_numpy_typed(spark, force_udf):
    """Stats come from pandas aggregates in the reference, so `3 / std` with
    std == 0 is np.float64 division → inf → 100 (not an error → 0)."""
    df = spark.createDataFrame(
        [("A", 7.0), ("B", 7.0)], "vendor string, x double"  # std == 0
    )
    r = eval_formula(df, "3 / std", force_udf=force_udf)
    assert all(v["score_x"] == pytest.approx(100.0) for v in r.values())
    # but a user VARIABLE zero is a python number → ZeroDivisionError → 0
    r = eval_formula(df, "3 / z", variables={"z": 0.0}, force_udf=force_udf)
    assert all(v["score_x"] == 0.0 for v in r.values())


@pytest.mark.parametrize("force_udf", [False, True])
def test_nan_through_min_max_is_order_dependent(spark, force_udf):
    """Python's min/max keep the first operand under NaN comparisons:
    min(nan, 3) == nan (→0) but min(3, nan) == 3."""
    df = spark.createDataFrame([("A", 0.0)], "vendor string, x double")
    nan_expr = "sqrt(value) / sqrt(value)"  # np 0/0 → nan
    r = eval_formula(df, f"min({nan_expr}, 3)", force_udf=force_udf)
    assert r["A"]["score_x"] == 0.0  # nan survives → 0
    r = eval_formula(df, f"min(3, {nan_expr})", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(3.0)
    r = eval_formula(df, f"clip({nan_expr}, 0, 100)", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(100.0)  # min(100,nan)=100


def test_ambiguous_division_falls_back(spark):
    """A divisor whose python/numpy class is data-dependent (min of a python
    int and a numpy float) is untranslatable — both paths must still agree
    because the native path defers to the interpreter."""
    from pyspark.sql import functions as F
    import numpy as np

    with pytest.raises(FormulaTranslationError):
        formula_to_sql("3 / min(7, std)", "x",
                       {"std": np.float64(1.0)})
    # end-to-end: still evaluates (via fallback), identical either way
    df = spark.createDataFrame([("A", 5.0), ("B", 5.0)], "vendor string, x double")
    a = eval_formula(df, "3 / min(7, std)", force_udf=False)
    b = eval_formula(df, "3 / min(7, std)", force_udf=True)
    assert a["A"]["score_x"] == b["A"]["score_x"]


@pytest.mark.parametrize("force_udf", [False, True])
def test_python_mod_floor_semantics(spark, force_udf):
    # python: -7 % 3 == 2 (floor-sign), -7 // 3 == -3
    df = spark.createDataFrame([("A", -7.0)], "vendor string, x double")
    r = eval_formula(df, "value % 3", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(2.0)
    r = eval_formula(df, "value // 3 + 10", force_udf=force_udf)
    assert r["A"]["score_x"] == pytest.approx(7.0)


# --- translation-coverage observability (VERDICT r8 task 6) ----------------
#
# The interpreter fallback is bit-correct but ~10-100x slower; these tests
# pin WHICH formulas ride the native Column path so a grammar regression to
# the slow path fails a test instead of surfacing in a bench.

# every formula the reference's own tests/examples/demos use
# (reference tests/test_criteria.py:76-216 et al.) — all must translate
_REFERENCE_FORMULAS = [
    ("value", {}),
    ("value * 2", {}),
    ("value * 10", {}),
    ("value * 100", {}),
    ("value - 20", {}),
    ("1 / 0", {}),
    ("(value - min) / (max - min) * 100", {}),
    ("100 - abs(value - target) / target * 100", {"target": 100000}),
    ("clip(sqrt(value) * 30, 0, 100)", {}),
]


@pytest.mark.parametrize("formula,variables", _REFERENCE_FORMULAS)
def test_every_reference_formula_translates_natively(formula, variables):
    from bid_evaluation_spark.functions.criteria import FormulaCriterion
    from bid_evaluation_spark.functions.formula import formula_translates

    assert formula_translates(formula, variables), formula
    crit = FormulaCriterion("x", 1.0, formula=formula, variables=variables)
    assert crit.translated, formula


def test_translated_surface_reports_known_fallbacks():
    from bid_evaluation_spark.functions.criteria import FormulaCriterion

    # force_udf pins the interpreter regardless of grammar
    crit = FormulaCriterion("x", 1.0, formula="value * 2")
    crit.config["force_udf"] = True
    assert not crit.translated
    # mixed numeric/stat min() is a documented interpreter-only case
    assert not FormulaCriterion(
        "x", 1.0, formula="3 / min(7, std)").translated
    # identity-membership (ADVICE r8): left operand among the container
    # elements routes to the interpreter for NaN-identity parity
    assert not FormulaCriterion(
        "x", 1.0, formula="value in [value, 3]").translated
    # plain membership stays native
    assert FormulaCriterion(
        "x", 1.0, formula="value in [1, 2, 3]").translated
