"""Safe formula-expression criterion: AST → SQL expression text.

Reference semantics (``bid_evaluation/criteria.py:105-151``): the formula is a
math expression evaluated per row with ``simpleeval``; the namespace exposes
``value`` (the row's value), the statistics ``min, max, mean, median, std``,
user variables, and the functions ``abs, min, max, sqrt, log, log10, exp,
clip(x, lo, hi)``; any per-row exception maps to 0.0 (verified: ``'1 / 0'`` →
all rows 0.0 — reference ``tests/test_criteria.py:140-148``); results are
clipped to [0, 100] and multiplied by the criterion weight.

The reference interprets the formula in a per-row Python loop
(``criteria.py:136-149``) — its only O(n)-Python scalar operator. This engine
instead parses the formula once with :mod:`ast` and translates it to SQL
text so it executes JVM-side inside whole-stage codegen. Only the
translator's own output reaches SQL — fixed function names, operators,
exact literals and plan column names — never the formula string:

- bare ``min``/``max``/``mean``/``median``/``std`` → the plan's statistics,
- call-position ``min(`` / ``max(`` → a left fold reproducing Python's
  ``min``/``max`` loop exactly (incl. its order-dependent NaN behavior:
  ``min(nan, 3) == nan`` but ``min(3, nan) == 3``),
- ``clip(x, lo, hi)`` → the same folds composed as ``max(lo, min(hi, x))``,
- ``log`` → natural log with IEEE edge semantics (``log(0) → -inf``,
  ``log(<0) → nan`` — Spark's builtin returns null for both),
- division/``%``/``//``/``**`` semantics depend on the *runtime scalar types*
  of the reference namespace (see :meth:`_Translator.taint`): statistics are
  ``np.float64`` (pandas aggregates) and ``sqrt/log/log10/exp`` return
  ``np.float64``, so expressions touching them follow IEEE-754
  (``x/0 → ±inf``, ``0/0 → nan``, never raising), while ``value`` (Series
  iteration yields Python floats), literals, and user variables are plain
  Python numbers whose division by zero raises → per-row 0.0. The translator
  statically classifies each operand as python-typed, numpy-typed, or
  ambiguous; ambiguous divisions go to the interpreter,
- comparisons are NaN-guarded to IEEE (any comparison with NaN is False,
  ``!=`` is True — Spark SQL instead orders NaN greatest),
- per-row errors surface as null and poison the whole expression (including
  conditional branches: a null condition yields null, matching Python's
  "the exception already escaped"),
- null/NaN results → 0.0 (reference: errors → 0.0; NaN results would crash the
  reference later at ``ranking.astype(int)`` — mapping them to 0.0 is this
  engine's documented clean divergence, SURVEY §7 risk register),
- final ``least(greatest(x, 0), 100)`` clip (``+inf → 100``, ``-inf → 0``,
  matching numpy clip of the reference's inf results).

Formulas outside the translatable grammar (compound types, unknown names,
1-arg ``min``…) are python-scored: :func:`formula_python_scores` interprets
the same whitelisted AST with genuine Python per-row semantics — the
always-correct path — inside the plan's grouped Arrow step.
"""

from __future__ import annotations

import ast

from typing import Any, Callable, Dict, Mapping, Optional, Tuple

import numpy as np
import pandas as pd

from .sql import NULL_BOOLEAN, NULL_DOUBLE, double, num, value

STAT_NAMES = ("min", "max", "mean", "median", "std")

_INF = float("inf")
_NAN = float("nan")


class FormulaTranslationError(Exception):
    """Formula uses grammar outside the native-translatable subset."""


class StatRef(str):
    """SQL text of a statistic in the plan. It stands in for the reference's
    pandas aggregate, so the translator types it as ``np.float64``."""


def _null_strict(result: str, *args: str) -> str:
    """Propagate null through multi-argument translations.

    A null operand means "this row errored" (e.g. python-typed ÷0) and must
    survive to the final error→0.0 mapping — Python's ``min``/``max``/``clip``
    would have raised on it. Without this, ``clip(1/0, 0, 100)`` silently
    became 100.
    """
    cond = None
    for a in args:
        c = f"({a} IS NULL)"
        cond = c if cond is None else f"({cond} OR {c})"
    return f"CASE WHEN {cond} THEN {NULL_DOUBLE} ELSE {result} END"


def _ieee_div(a: str, b: str) -> str:
    """numpy-float64 division: ``x/±0 → ±inf`` (sign of the zero respected via
    ``Math.pow(±0, -1)``), ``0/0 → nan``; otherwise exact double division.

    Spark's own ``/`` returns null for a zero divisor (non-ANSI) or raises
    (ANSI), so the zero-divisor branch is rebuilt from ``a * b**-1``, which
    Java evaluates to the correctly-signed infinity / nan.
    """
    return f"CASE WHEN ({b} = 0.0D) THEN ({a} * power({b}, (-1.0D))) ELSE try_divide({a}, {b}) END"


def _py_mod(a: str, b: str, zero_result: str) -> str:
    """Python floor-sign modulo via Java's truncating ``%`` plus sign fix-up.

    ``try_mod`` is Java ``%`` (C-style sign, correct for ±inf operands:
    ``5 % inf == 5``, ``inf % 5 == nan``); Python adds the divisor when the
    remainder's sign disagrees. ``b == 0`` is the one case where Python
    (raise) and numpy (nan) part ways — the caller passes the right branch.
    """
    r = f"try_mod({a}, {b})"
    adj = (f"CASE WHEN (({r} != 0.0D) AND (({r} < 0.0D) != ({b} < 0.0D))) "
           f"THEN ({r} + {b}) ELSE {r} END")
    return f"CASE WHEN ({b} = 0.0D) THEN {zero_result} ELSE {adj} END"


def _floor_double(d: str) -> str:
    """``floor`` that stays in double space: ±inf/nan/huge pass through
    (Spark's ``floor`` returns LONG and overflows on them; doubles ≥ 2^53
    are already integral)."""
    return (f"CASE WHEN (isnan({d}) OR (abs({d}) >= {num(2.0 ** 53)})) THEN {d} "
            f"ELSE CAST(floor({d}) AS DOUBLE) END")


def _py_min_fold(args: list) -> str:
    """Python's ``min(...)`` left fold, NaN order-dependence included:
    the accumulator survives unless a later arg is strictly smaller, and
    ``x < nan_acc`` / ``nan_x < acc`` are both IEEE-False (Spark orders NaN
    greatest, which agrees for the arg side; the acc side needs the guard)."""
    acc = args[0]
    for x in args[1:]:
        acc = f"CASE WHEN isnan({acc}) THEN {acc} WHEN ({x} < {acc}) THEN {x} ELSE {acc} END"
    return _null_strict(acc, *args)


def _py_max_fold(args: list) -> str:
    """Python's ``max(...)`` left fold (see :func:`_py_min_fold`); here the
    arg side needs the NaN guard (Spark evaluates ``nan > acc`` as True)."""
    acc = args[0]
    for x in args[1:]:
        acc = f"CASE WHEN isnan({x}) THEN {acc} WHEN ({x} > {acc}) THEN {x} ELSE {acc} END"
    return _null_strict(acc, *args)


#: taint classes for the reference namespace's runtime scalar types
_PY, _NP, _MAYBE = "py", "np", "maybe"

#: whitelisted functions that return np.float64 regardless of input
_NP_RETURNING = frozenset({"sqrt", "log", "log10", "exp"})


def _arith_taint(*ts: str) -> str:
    """Arithmetic coerces: one numpy operand makes the result numpy."""
    if _NP in ts:
        return _NP
    if _MAYBE in ts:
        return _MAYBE
    return _PY


def _select_taint(*ts: str) -> str:
    """Selection (min/max/clip/ternary) returns ONE operand unchanged:
    mixed possible types ⇒ ambiguous."""
    if all(t == _PY for t in ts):
        return _PY
    if all(t == _NP for t in ts):
        return _NP
    return _MAYBE


# ---------------------------------------------------------------------------
# Native translation: ast → (SQL text, is_boolean)
# ---------------------------------------------------------------------------

_CMP_OPS = {ast.Lt: "<", ast.LtE: "<=", ast.Gt: ">", ast.GtE: ">=",
            ast.Eq: "=", ast.NotEq: "!="}


class _Translator:
    def __init__(self, value_sql: str, names: Mapping[str, Any]):
        self.value_sql = value_sql
        self.names = names

    def taint(self, node: ast.AST) -> str:
        """Classify a subexpression's runtime scalar type in the reference
        namespace: ``py`` (Python number — raises on ÷0), ``np``
        (``np.float64`` — IEEE ±inf/nan, never raises), or ``maybe``.

        Grounded in the reference (``criteria.py:128-147``): statistics are
        pandas aggregates (``values.mean()`` → np.float64), ``sqrt/log/
        log10/exp`` are the numpy functions, while ``value`` (Series
        iteration yields Python floats on pandas ≥ 2), literals, and config
        variables are plain Python numbers. Arithmetic coerces numpy-ward;
        min/max/clip/ternary return one operand unchanged, so mixing makes
        the class data-dependent (``maybe``) — divisions over ``maybe``
        operands go to the interpreter instead of guessing.
        """
        if isinstance(node, ast.Expression):
            return self.taint(node.body)
        if isinstance(node, ast.Constant):
            return _PY
        if isinstance(node, ast.Name):
            if node.id == "value":
                return _PY
            v = self.names.get(node.id)
            if isinstance(v, StatRef):
                return _NP  # plan statistics stand in for pandas aggregates
            return _NP if isinstance(v, (np.floating, np.integer, np.bool_)) else _PY
        if isinstance(node, ast.BinOp):
            return _arith_taint(self.taint(node.left), self.taint(node.right))
        if isinstance(node, ast.UnaryOp):
            if isinstance(node.op, ast.Not):
                return _PY  # python bool
            return self.taint(node.operand)
        if isinstance(node, ast.Compare):
            return _PY  # the interpreter's Compare returns python bools
        if isinstance(node, ast.BoolOp):
            return _select_taint(*[self.taint(v) for v in node.values])
        if isinstance(node, ast.IfExp):
            return _select_taint(self.taint(node.body), self.taint(node.orelse))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            fname = node.func.id
            if fname in _NP_RETURNING:
                return _NP
            if fname == "abs" and len(node.args) == 1:
                return self.taint(node.args[0])
            if fname in ("min", "max", "clip"):
                args = node.args
                if (fname in ("min", "max") and len(args) == 1
                        and isinstance(args[0], (ast.List, ast.Tuple))):
                    args = args[0].elts  # min([a, b]) selects an element
                return _select_taint(*[self.taint(a) for a in args])
        return _MAYBE

    def _div_taint(self, node: ast.BinOp) -> str:
        """Resolve ÷0 semantics for a division-like BinOp: ``np`` → IEEE,
        ``py`` → raise→null, else untranslatable (interpreter decides)."""
        ta, tb = self.taint(node.left), self.taint(node.right)
        if _NP in (ta, tb):
            return _NP
        if ta == _PY and tb == _PY:
            return _PY
        raise FormulaTranslationError(
            "ambiguous python/numpy typing for a zero-divisor operation"
        )

    def _num(self, node: ast.AST) -> str:
        """Translate a subexpression and coerce boolean → double (py True == 1)."""
        sql, is_bool = self.visit(node)
        return double(sql) if is_bool else sql

    def visit(self, node: ast.AST) -> Tuple[str, bool]:
        if isinstance(node, ast.Expression):
            return self.visit(node.body)

        if isinstance(node, ast.Constant):
            if isinstance(node.value, bool):
                return ("true" if node.value else "false"), True
            if isinstance(node.value, (int, float)):
                return num(node.value), False
            raise FormulaTranslationError(f"non-numeric constant {node.value!r}")

        if isinstance(node, ast.Name):
            if node.id == "value":
                return double(self.value_sql), False
            if node.id in self.names:
                v = self.names[node.id]
                if isinstance(v, StatRef):
                    return str(v), False
                if isinstance(v, (bool, np.bool_)):
                    return ("true" if v else "false"), True
                if v is None:
                    return NULL_DOUBLE, False
                if isinstance(v, (int, float, np.number)):
                    return num(v), False
                raise FormulaTranslationError(f"non-numeric variable {node.id!r}")
            raise FormulaTranslationError(f"unknown name {node.id!r}")

        if isinstance(node, ast.BinOp):
            left, right = self._num(node.left), self._num(node.right)
            op = node.op
            if isinstance(op, ast.Add):
                return f"({left} + {right})", False
            if isinstance(op, ast.Sub):
                return f"({left} - {right})", False
            if isinstance(op, ast.Mult):
                return f"({left} * {right})", False
            if isinstance(op, ast.Div):
                if self._div_taint(node) == _NP:
                    return _ieee_div(left, right), False
                # python ZeroDivisionError → per-row 0.0; try_divide → null → 0.0
                return f"try_divide({left}, {right})", False
            if isinstance(op, ast.Pow):
                if self._div_taint(node) == _NP:
                    # Math.pow ≡ numpy float64 pow on every edge case
                    # (0**-1 → inf, (-0.0)**-1 → -inf, neg**frac → nan)
                    return f"power({left}, {right})", False
                # guard 0 ** negative (py: ZeroDivisionError; Spark pow: +inf)
                return (f"CASE WHEN (({left} = 0.0D) AND ({right} < 0.0D)) THEN {NULL_DOUBLE} "
                        f"ELSE power({left}, {right}) END"), False
            if isinstance(op, ast.Mod):
                zero = num(_NAN) if self._div_taint(node) == _NP else NULL_DOUBLE
                return _py_mod(left, right, zero), False
            if isinstance(op, ast.FloorDiv):
                if self._div_taint(node) == _NP:
                    # numpy floor_divide(x, 0) → ±inf/nan (floor of IEEE div)
                    return _floor_double(_ieee_div(left, right)), False
                return _floor_double(f"try_divide({left}, {right})"), False
            raise FormulaTranslationError(f"operator {type(op).__name__}")

        if isinstance(node, ast.UnaryOp):
            if isinstance(node.op, ast.USub):
                return f"(- {self._num(node.operand)})", False
            if isinstance(node.op, ast.UAdd):
                return self._num(node.operand), False
            if isinstance(node.op, ast.Not):
                sql, is_bool = self.visit(node.operand)
                if not is_bool:
                    sql = f"({double(sql)} != 0.0D)"
                return f"(NOT {sql})", True
            raise FormulaTranslationError(f"unary {type(node.op).__name__}")

        if isinstance(node, ast.Compare):
            # membership over a container LITERAL (EvalWithCompoundTypes
            # grammar, reference criteria.py:126): x in [a, b, c] is an
            # equality fold. Python semantics: NaN left matches nothing by
            # VALUE, but `in` checks identity first — `a in [a, ...]` is
            # True even for NaN `a` because the names dict yields the same
            # float object. The fold can't see identity, so any element
            # textually identical to the left operand routes to the
            # interpreter. An erroring element poisons the whole test (the
            # list is built before `in` runs). Chains mixing `in` with
            # other links go to the interpreter too.
            if len(node.ops) == 1 and isinstance(node.ops[0],
                                                 (ast.In, ast.NotIn)):
                comparator = node.comparators[0]
                if not isinstance(comparator, (ast.List, ast.Tuple, ast.Set)):
                    raise FormulaTranslationError(
                        "membership over a non-literal container")
                left_src = ast.dump(node.left)
                if any(ast.dump(e) == left_src for e in comparator.elts):
                    raise FormulaTranslationError(
                        "membership where the left operand appears among "
                        "the elements (Python `in` identity semantics)")
                left = self._num(node.left)
                elems = [self._num(e) for e in comparator.elts]
                any_null = f"({left} IS NULL)"
                for e in elems:
                    any_null = f"({any_null} OR ({e} IS NULL))"
                hit = "false"
                for e in elems:
                    hit = (f"({hit} OR CASE WHEN (isnan({left}) OR isnan({e})) THEN false "
                           f"ELSE ({left} = {e}) END)")
                if isinstance(node.ops[0], ast.NotIn):
                    hit = f"(NOT {hit})"
                return f"CASE WHEN {any_null} THEN {NULL_BOOLEAN} ELSE {hit} END", True
            # IEEE NaN semantics: any comparison with NaN is False (!= is
            # True) — Spark SQL instead orders NaN greatest, so each piece is
            # guarded. Null operands (upstream errors) fall through the guard
            # (isnan(null) → false skips the branch) into the raw compare → null.
            parts = []
            left = self._num(node.left)
            for op, comparator in zip(node.ops, node.comparators):
                sym = _CMP_OPS.get(type(op))
                if sym is None:
                    raise FormulaTranslationError(f"comparison {type(op).__name__}")
                right = self._num(comparator)
                nan_result = "true" if isinstance(op, ast.NotEq) else "false"
                parts.append(f"CASE WHEN (isnan({left}) OR isnan({right})) THEN {nan_result} "
                             f"ELSE ({left} {sym} {right}) END")
                left = right
            # python evaluates chain links lazily: a False link short-circuits
            # (even past an erroring comparator); a null link poisons the rest
            out = parts[0]
            for p in parts[1:]:
                out = (f"CASE WHEN ({out} IS NULL) THEN {NULL_BOOLEAN} "
                       f"WHEN (NOT {out}) THEN false ELSE {p} END")
            return out, True

        if isinstance(node, ast.BoolOp):
            # restrict to boolean operands (python and/or return operands, not
            # bools — numeric operands go to the interpreter for exactness).
            # Folded to model short-circuit + error poison: a decided prefix
            # ignores later (even erroring) operands; a null prefix poisons.
            sqls = []
            for v in node.values:
                sql, is_bool = self.visit(v)
                if not is_bool:
                    raise FormulaTranslationError("and/or over non-boolean operands")
                sqls.append(sql)
            out = sqls[0]
            for c in sqls[1:]:
                if isinstance(node.op, ast.And):
                    out = (f"CASE WHEN ({out} IS NULL) THEN {NULL_BOOLEAN} "
                           f"WHEN (NOT {out}) THEN false ELSE {c} END")
                else:
                    out = (f"CASE WHEN ({out} IS NULL) THEN {NULL_BOOLEAN} "
                           f"WHEN {out} THEN true ELSE {c} END")
            return out, True

        if isinstance(node, ast.IfExp):
            cond, is_bool = self.visit(node.test)
            if not is_bool:
                cond = f"({double(cond)} != 0.0D)"
            a, a_bool = self.visit(node.body)
            b, b_bool = self.visit(node.orelse)
            if a_bool != b_bool:
                a = double(a) if a_bool else a
                b = double(b) if b_bool else b
                a_bool = b_bool = False
            # a null condition is an upstream per-row error: python never
            # reached the branch — poison instead of silently taking orelse
            null_lit = NULL_BOOLEAN if (a_bool and b_bool) else NULL_DOUBLE
            return (f"CASE WHEN ({cond} IS NULL) THEN {null_lit} WHEN {cond} THEN {a} "
                    f"ELSE {b} END"), a_bool and b_bool

        if isinstance(node, ast.Call):
            if not isinstance(node.func, ast.Name) or node.keywords:
                raise FormulaTranslationError("unsupported call form")
            fname = node.func.id
            # min([a, b]) / max((a, b)): the container-literal call forms of
            # the compound-type grammar — same selection semantics as the
            # multi-arg folds (Python's min/max iterate either way)
            if (fname in ("min", "max") and len(node.args) == 1
                    and isinstance(node.args[0], (ast.List, ast.Tuple))):
                elems = [self._num(e) for e in node.args[0].elts]
                if not elems:
                    # min([]) raises per-row in Python → interpreter
                    raise FormulaTranslationError(f"{fname} of empty list")
                if len(elems) == 1:
                    return elems[0], False
                fold = _py_min_fold if fname == "min" else _py_max_fold
                return fold(elems), False
            args = [self._num(a) for a in node.args]
            if fname == "abs" and len(args) == 1:
                return f"abs({args[0]})", False
            if fname == "sqrt" and len(args) == 1:
                # Math.sqrt(neg) → nan, matching np.sqrt
                return f"sqrt({args[0]})", False
            if fname in ("log", "log10") and len(args) == 1:
                # np.log(0) → -inf, np.log(neg) → nan; Spark's builtin
                # returns null for both, which would read as "error" here
                x = args[0]
                return (f"CASE WHEN ({x} = 0.0D) THEN {num(-_INF)} "
                        f"WHEN ({x} < 0.0D) THEN {num(_NAN)} ELSE {fname}({x}) END"), False
            if fname == "exp" and len(args) == 1:
                return f"exp({args[0]})", False
            if fname == "min" and len(args) >= 2:
                return _py_min_fold(args), False
            if fname == "max" and len(args) >= 2:
                return _py_max_fold(args), False
            if fname == "clip" and len(args) == 3:
                x, lo, hi = args
                # py: max(lo, min(hi, x)) — composed from the same folds so
                # clip(nan, 0, 100) == 100 exactly as the reference computes
                inner = f"CASE WHEN isnan({hi}) THEN {hi} WHEN ({x} < {hi}) THEN {x} ELSE {hi} END"
                outer = (f"CASE WHEN isnan({inner}) THEN {lo} WHEN ({inner} > {lo}) "
                         f"THEN {inner} ELSE {lo} END")
                return _null_strict(outer, x, lo, hi), False
            raise FormulaTranslationError(f"call {fname}/{len(args)}")

        raise FormulaTranslationError(f"node {type(node).__name__}")


def formula_to_sql(formula: str, value_sql: str, names: Mapping[str, Any]) -> str:
    """Translate ``formula`` to raw SQL text (no error-mapping/clipping).

    ``value_sql`` is the value column's SQL text; ``names`` holds the
    statistics (:class:`StatRef` or numbers) and user variables. Raises
    :class:`FormulaTranslationError` when outside the native subset — the
    formula text itself never reaches SQL, only what the translator emits.
    """
    try:
        tree = ast.parse(formula, mode="eval")
    except SyntaxError as e:  # syntactically invalid → per-row error → 0.0
        raise FormulaTranslationError(str(e)) from e
    sql, _ = _Translator(value_sql, names).visit(tree)
    return sql


# ---------------------------------------------------------------------------
# Interpreter: the restricted AST with python semantics
# ---------------------------------------------------------------------------

_PY_FUNCS: Dict[str, Callable[..., Any]] = {
    "abs": abs,
    "min": min,
    "max": max,
    "sqrt": np.sqrt,
    "log": np.log,
    "log10": np.log10,
    "exp": np.exp,
    "clip": lambda x, lo, hi: max(lo, min(hi, x)),
}

_PY_CMP = {
    ast.Lt: lambda a, b: a < b,
    ast.LtE: lambda a, b: a <= b,
    ast.Gt: lambda a, b: a > b,
    ast.GtE: lambda a, b: a >= b,
    ast.Eq: lambda a, b: a == b,
    ast.NotEq: lambda a, b: a != b,
    ast.In: lambda a, b: a in b,
    ast.NotIn: lambda a, b: a not in b,
}


def _py_eval(node: ast.AST, names: Dict[str, Any]) -> Any:
    """Evaluate one whitelisted-AST node with genuine Python semantics.

    Covers the reference's effective grammar (simpleeval's
    ``EvalWithCompoundTypes``): arithmetic, comparisons, bool ops, conditional
    expressions, the whitelisted functions, plus list/tuple/dict literals and
    subscripts. No attribute access, no imports, no arbitrary calls.
    """
    if isinstance(node, ast.Expression):
        return _py_eval(node.body, names)
    if isinstance(node, ast.Constant):
        if isinstance(node.value, (int, float, bool, str)) or node.value is None:
            return node.value
        raise ValueError(f"constant {node.value!r}")
    if isinstance(node, ast.Name):
        if node.id in names:
            return names[node.id]
        raise NameError(node.id)
    if isinstance(node, ast.BinOp):
        a, b = _py_eval(node.left, names), _py_eval(node.right, names)
        op = node.op
        if isinstance(op, ast.Add):
            return a + b
        if isinstance(op, ast.Sub):
            return a - b
        if isinstance(op, ast.Mult):
            return a * b
        if isinstance(op, ast.Div):
            return a / b
        if isinstance(op, ast.Pow):
            return a ** b
        if isinstance(op, ast.Mod):
            return a % b
        if isinstance(op, ast.FloorDiv):
            return a // b
        raise ValueError(f"operator {type(op).__name__}")
    if isinstance(node, ast.UnaryOp):
        v = _py_eval(node.operand, names)
        if isinstance(node.op, ast.USub):
            return -v
        if isinstance(node.op, ast.UAdd):
            return +v
        if isinstance(node.op, ast.Not):
            return not v
        raise ValueError(f"unary {type(node.op).__name__}")
    if isinstance(node, ast.Compare):
        left = _py_eval(node.left, names)
        for op, comparator in zip(node.ops, node.comparators):
            right = _py_eval(comparator, names)
            fn = _PY_CMP.get(type(op))
            if fn is None or not fn(left, right):
                if fn is None:
                    raise ValueError(f"comparison {type(op).__name__}")
                return False
            left = right
        return True
    if isinstance(node, ast.BoolOp):
        if isinstance(node.op, ast.And):
            out: Any = True
            for v in node.values:
                out = _py_eval(v, names)
                if not out:
                    return out
            return out
        out = False
        for v in node.values:
            out = _py_eval(v, names)
            if out:
                return out
        return out
    if isinstance(node, ast.IfExp):
        return (
            _py_eval(node.body, names)
            if _py_eval(node.test, names)
            else _py_eval(node.orelse, names)
        )
    if isinstance(node, ast.Call):
        if not isinstance(node.func, ast.Name) or node.func.id not in _PY_FUNCS:
            raise ValueError("unsupported call")
        args = [_py_eval(a, names) for a in node.args]
        kwargs = {k.arg: _py_eval(k.value, names) for k in node.keywords if k.arg}
        return _PY_FUNCS[node.func.id](*args, **kwargs)
    if isinstance(node, (ast.List, ast.Tuple)):
        return [_py_eval(e, names) for e in node.elts]
    if isinstance(node, ast.Set):
        return {_py_eval(e, names) for e in node.elts}
    if isinstance(node, ast.Dict):
        return {
            _py_eval(k, names): _py_eval(v, names)
            for k, v in zip(node.keys, node.values)
            if k is not None
        }
    if isinstance(node, ast.Subscript):
        target = _py_eval(node.value, names)
        if isinstance(node.slice, ast.Slice):
            s = node.slice
            return target[slice(
                _py_eval(s.lower, names) if s.lower else None,
                _py_eval(s.upper, names) if s.upper else None,
                _py_eval(s.step, names) if s.step else None,
            )]
        return target[_py_eval(node.slice, names)]
    if isinstance(node, (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)):
        return _py_comprehension(node, names)
    raise ValueError(f"node {type(node).__name__}")


#: same guard as simpleeval's MAX_COMPREHENSION_LENGTH — a runaway
#: comprehension inside a per-row formula maps to the error→0.0 contract
_MAX_COMPREHENSION_LENGTH = 10000


def _py_comp_assign(target: ast.AST, value: Any, scope: Dict[str, Any]) -> None:
    """Bind a comprehension loop target (name or nested tuple) into scope."""
    if isinstance(target, ast.Name):
        scope[target.id] = value
        return
    if isinstance(target, (ast.Tuple, ast.List)):
        vals = list(value)
        if len(vals) != len(target.elts):
            raise ValueError("unpack length mismatch")
        for t, v in zip(target.elts, vals):
            _py_comp_assign(t, v, scope)
        return
    raise ValueError(f"comprehension target {type(target).__name__}")


def _py_comprehension(node: ast.AST, names: Dict[str, Any]) -> Any:
    """List/set/dict/generator comprehension with python semantics
    (``EvalWithCompoundTypes`` parity — reference ``criteria.py:126`` grammar)."""
    out: list = []

    def rec(gens, scope):
        if not gens:
            if isinstance(node, ast.DictComp):
                out.append((_py_eval(node.key, scope),
                            _py_eval(node.value, scope)))
            else:
                out.append(_py_eval(node.elt, scope))
            if len(out) > _MAX_COMPREHENSION_LENGTH:
                raise ValueError("comprehension too long")
            return
        gen = gens[0]
        for item in _py_eval(gen.iter, scope):
            child = dict(scope)
            _py_comp_assign(gen.target, item, child)
            if all(_py_eval(c, child) for c in gen.ifs):
                rec(gens[1:], child)

    rec(list(node.generators), dict(names))
    if isinstance(node, ast.DictComp):
        return dict(out)
    if isinstance(node, ast.SetComp):
        return set(out)
    return out


def _namespace(stats: Mapping[str, Optional[float]],
               variables: Mapping[str, Any]) -> Dict[str, Any]:
    """The interpreter's names: statistics enter as np.float64 — in the
    reference they are pandas aggregates (criteria.py:21-28 ``values.min()``
    etc.), so e.g. ``3 / std`` with std == 0 yields inf→clip→100, not
    ZeroDivisionError→0; user variables stay as configured (python numbers →
    raising semantics)."""
    names: Dict[str, Any] = {}
    for k in STAT_NAMES:
        v = stats.get(k)
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            names[k] = np.float64(v)
        else:
            names[k] = v
    names.update(variables)
    return names


def formula_python_scores(formula: str, values: pd.Series,
                          stats: Mapping[str, Optional[float]],
                          variables: Mapping[str, Any]) -> np.ndarray:
    """Score ``values`` by interpreting ``formula`` per row with Python
    semantics — the path for formulas outside the translatable grammar.

    Mirrors the reference loop (``criteria.py:136-149``): per-row errors →
    0.0, then ``clip(0, 100)``; NaN results become 0.0 (documented
    divergence — the reference would crash at ranking's ``astype(int)``).
    """
    try:
        tree: Optional[ast.AST] = ast.parse(formula, mode="eval")
    except SyntaxError:
        tree = None
    base = _namespace(stats, variables)
    results = []
    for val in values:
        if tree is None:
            results.append(0.0)
            continue
        row_names = dict(base)
        row_names["value"] = val
        try:
            results.append(float(_py_eval(tree, row_names)))
        except Exception:
            results.append(0.0)
    out = pd.Series(results, dtype="float64").clip(0, 100)
    return out.fillna(0.0).to_numpy()


def formula_translates(
    formula: str,
    variables: Optional[Mapping[str, Any]] = None,
) -> bool:
    """Dry-run predicate: does ``formula`` translate to SQL, or is it
    python-scored by the interpreter?

    Observability surface for the silent (and correct) slow path: a
    grammar regression that pushes a previously-native formula onto the
    ~10-100x slower interpreter shows up in a coverage-asserting test
    instead of a bench (VERDICT r8 task 6).
    """
    try:
        formula_score_sql(formula, "value", {}, variables or {})
        return True
    except FormulaTranslationError:
        return False


def formula_score_sql(formula: str, v: str, stats: Mapping[str, Any],
                      variables: Mapping[str, Any]) -> str:
    """Full formula-criterion score as SQL: the translation with errors and
    NaN → 0.0, clipped to [0, 100]. Raises
    :class:`FormulaTranslationError` outside the translatable grammar."""
    names: Dict[str, Any] = {k: StatRef(value(stats[k]) if k in stats else NULL_DOUBLE)
                             for k in STAT_NAMES}
    names.update(variables)
    raw = double(formula_to_sql(formula, v, names))
    return f"least(greatest(coalesce(nanvl({raw}, 0.0D), 0.0D), 0.0D), 100.0D)"
