"""Criterion types as SQL expression emitters.

Reference semantics: ``bid_evaluation/criteria.py`` (six criterion classes that
transform one pandas Series into weighted 0–100-ish scores). Here each
criterion emits the SQL text of its score, ``(value_sql, stats) -> str``,
where ``stats`` maps statistic names to SQL text. The plan builder
(:mod:`..plans.pipeline`) passes window aggregates over the stage's active
rows there, so a criterion reads its statistics inside the same lazy plan
that scores, ranks and sorts, and every score stays in whole-stage codegen.
Python-scored criteria — :class:`CustomCriterion` and formulas outside the
translatable grammar — are scored per partition group by the builder's
Arrow step instead (:meth:`CriterionBase.python_score`).

Exact-parity notes (verified against the reference by execution — SURVEY §1.4):

- Detail scores are *weight-multiplied contributions*: every criterion returns
  ``score * weight`` (reference ``criteria.py:53,74,90,102,151,169``).
- Linear: min-max normalize ×100; ``higher_is_better=False`` normalizes the
  negated values ⇒ ``(max−v)/(max−min)·100``; constant column ⇒ 100 for all
  (``criteria.py:36-41``).
- Threshold: bands are ``[lower, upper)``; unmatched → 0.0; on overlap the
  **last** matching tuple wins (masks applied sequentially, ``criteria.py:70-72``)
  — so the ``CASE`` chain is built with later tuples taking precedence.
- Direct: rescale by ``output_scale/input_scale`` only when they differ;
  **no clipping** (a 150 committee score stays 150, ``criteria.py:83-90``).
- MinimumRatio: ``min/value·100``; requires strictly positive values — the
  reference produces NaN / crashes on zeros (``IntCastingNaNError`` at ranking,
  SURVEY §1.4-8); this engine uses ``try_divide`` so a zero denominator yields
  null cleanly (documented divergence).
- Formula: see :mod:`.formula` — translated to SQL when possible, per-row
  errors → 0.0, then clipped to [0,100] (``criteria.py:123-151``).
- Custom: user fn ``(values: pd.Series, stats: dict) -> pd.Series``, signature
  preserved exactly; it receives the group's active values and their
  statistics (``criteria.py:154-169``).
"""

from __future__ import annotations

from abc import ABC
from typing import Any, Callable, Dict, Mapping, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from .sql import double, num, value

#: statistic name → SQL text (a window aggregate column in the plan) or a
#: number; criterion expressions are written against both.
Stats = Mapping[str, Any]

#: the reference's full statistics bundle (``criteria.py:19-29``)
ALL_STAT_KEYS = ("min", "max", "mean", "median", "std", "q25", "q75")


class CriterionBase(ABC):
    """Base criterion: ``(name, weight, **config)`` + a SQL score emitter.

    Mirrors the reference's ``CriterionBase`` surface (``criteria.py:10-41``)
    but produces lazy SQL expressions instead of eager Series.
    """

    #: the statistics this criterion's expression actually reads — the plan
    #: computes only these. Conservative default: everything.
    required_stat_keys: Sequence[str] = ALL_STAT_KEYS

    #: scored in Python over each partition group (see :meth:`python_score`)
    #: rather than as a SQL expression
    python_scored = False

    def __init__(self, name: str, weight: float, **config: Any):
        self.name = name
        self.weight = weight
        self.config = config
        # filled by get_statistics(), as reference criteria._statistics
        self._statistics: Dict[str, Optional[float]] = {}

    def score_sql(self, v: str, stats: Stats) -> str:
        """Unweighted score of the value column ``v`` (SQL text)."""
        raise NotImplementedError

    def python_score(self, values: pd.Series, stats: Dict[str, Optional[float]]) -> np.ndarray:
        """Unweighted scores of one group's active ``values``
        (``python_scored`` criteria only)."""
        raise NotImplementedError

    def weighted_sql(self, score: str) -> str:
        """Weighted contribution — what lands in ``score_{name}`` columns."""
        return double(f"({score} * {num(self.weight)})")

    @staticmethod
    def normalize(v: str, mn: Any, mx: Any, scale: float = 100.0) -> str:
        """Min-max normalize to [0, scale]; constant or all-null column ⇒
        ``scale`` for all (reference ``criteria.py:36-41``)."""
        lo, hi, s = value(mn), value(mx), num(scale)
        return (f"CASE WHEN ((({lo} IS NULL) OR ({hi} IS NULL)) OR ({hi} = {lo})) THEN {s} "
                f"ELSE ((({v} - {lo}) / ({hi} - {lo})) * {s}) END")


class LinearCriterion(CriterionBase):
    """Min-max linear normalization ×100 (reference ``criteria.py:44-56``)."""

    required_stat_keys = ("min", "max")

    def score_sql(self, v: str, stats: Stats) -> str:
        if self.config.get("higher_is_better", True):
            return self.normalize(double(v), stats["min"], stats["max"])
        # reference normalizes the negated series: min(-v) = -max(v),
        # max(-v) = -min(v) ⇒ (max - v) / (max - min) * 100
        lo, hi = value(stats["min"]), value(stats["max"])
        return (f"CASE WHEN ((({lo} IS NULL) OR ({hi} IS NULL)) OR ({hi} = {lo})) THEN 100.0D "
                f"ELSE ((({hi} - {double(v)}) / ({hi} - {lo})) * 100.0D) END")


class ThresholdCriterion(CriterionBase):
    """Score bands ``[(lower, upper, score), ...]`` (reference ``criteria.py:59-74``).

    Bands are half-open ``[lower, upper)``; values matching no band score 0.0;
    on overlapping bands the last listed tuple wins — the reference applies
    masks sequentially and later writes overwrite earlier ones, so the
    ``CASE`` chain here is built by wrapping earlier bands in ``ELSE``.
    """

    required_stat_keys = ()

    def score_sql(self, v: str, stats: Stats) -> str:
        thresholds: Sequence[Tuple[float, float, float]] = self.config.get("thresholds", [])
        expr = "0.0D"
        x = double(v)
        for lower, upper, band_score in thresholds:
            mask = f"(({x} >= {num(lower)}) AND ({x} < {num(upper)}))"
            expr = f"CASE WHEN {mask} THEN {num(band_score)} ELSE {expr} END"
        return expr


class DirectScoreCriterion(CriterionBase):
    """Pre-evaluated score, optionally rescaled, never clipped
    (reference ``criteria.py:77-90``)."""

    required_stat_keys = ()

    def score_sql(self, v: str, stats: Stats) -> str:
        input_scale = self.config.get("input_scale", 100)
        output_scale = self.config.get("output_scale", 100)
        if input_scale != output_scale:
            return f"({double(v)} * {num(float(output_scale) / float(input_scale))})"
        return double(v)


class MinimumRatioCriterion(CriterionBase):
    """``(min_value / value) * 100`` (reference ``criteria.py:93-102``).

    Precondition (inherited from the reference): strictly positive values.
    Divergence: a zero denominator yields null (via ``try_divide``) instead of
    the reference's NaN→``IntCastingNaNError`` crash (SURVEY §1.4-8).
    """

    required_stat_keys = ("min",)

    def score_sql(self, v: str, stats: Stats) -> str:
        return f"(try_divide({value(stats['min'])}, {double(v)}) * 100.0D)"


class FormulaCriterion(CriterionBase):
    """Math-expression criterion (reference ``criteria.py:105-151``).

    The formula may reference ``value``, the statistics
    ``min/max/mean/median/std``, user variables, and the functions
    ``abs, min, max, sqrt, log, log10, exp, clip``. Per-row evaluation errors
    map to 0.0; results are clipped to [0, 100]; then × weight.

    Execution strategy: translate the formula's AST to SQL
    (:func:`..functions.formula.formula_to_sql`) so it runs JVM-side inside
    codegen; formulas outside the translatable grammar are python-scored by
    an interpreter of the same restricted AST (the reference's simpleeval
    loop is per-row Python — ``criteria.py:136-149``).
    """

    def __init__(self, name: str, weight: float, formula: str = "value",
                 variables: Optional[dict] = None, **config: Any):
        super().__init__(name, weight, **config)
        self.formula = formula
        self.variables = variables or {}

    @property
    def required_stat_keys(self):  # type: ignore[override]
        # the reference formula namespace exposes exactly these five stats
        # (criteria.py:137-145); a bare-word scan over-includes harmlessly
        # when e.g. `min(` is the function form
        import re as _re

        return tuple(
            k for k in ("min", "max", "mean", "median", "std")
            if _re.search(rf"\b{k}\b", self.formula)
        )

    @property
    def translated(self) -> bool:
        """True when this formula runs as SQL; False when it is
        python-scored by the interpreter (correct either way — this is the
        observability surface for the slow path)."""
        from .formula import formula_translates

        if self.config.get("force_udf", False):
            return False
        return formula_translates(self.formula, self.variables)

    @property
    def python_scored(self) -> bool:  # type: ignore[override]
        return not self.translated

    def score_sql(self, v: str, stats: Stats) -> str:
        from .formula import formula_score_sql

        return formula_score_sql(self.formula, v, stats, self.variables)

    def python_score(self, values: pd.Series, stats: Dict[str, Optional[float]]) -> np.ndarray:
        from .formula import formula_python_scores

        return formula_python_scores(self.formula, values, stats, self.variables)


class CustomCriterion(CriterionBase):
    """User-supplied ``(values: pd.Series, stats: dict) -> pd.Series`` function
    (reference ``criteria.py:154-169``) — the user function body is unchanged
    from the reference API. The plan calls it once per partition group with
    the group's active values and their statistics."""

    python_scored = True

    def __init__(self, name: str, weight: float,
                 evaluation_function: Callable[[pd.Series, Dict], pd.Series],
                 **config: Any):
        super().__init__(name, weight, **config)
        self.evaluation_function = evaluation_function

    def python_score(self, values: pd.Series, stats: Dict[str, Optional[float]]) -> np.ndarray:
        return pd.Series(self.evaluation_function(values, stats)).astype("float64").to_numpy()


# === Built-in named custom functions (reference ``evaluator.py:239-251``) ===
#
# The reference exposes these as pandas lambdas behind
# ``Evaluator.custom(column, weight, '<name>')``; here they are SQL
# expressions — no UDF, no Python in the hot path.

def _builtin_proximity_to_mean(v: str, stats: Stats) -> str:
    # (100 - abs((v - mean) / mean) * 100).clip(lower=0)
    m = value(stats["mean"])
    return f"greatest((100.0D - (abs((({double(v)} - {m}) / {m})) * 100.0D)), 0.0D)"


def _builtin_proximity_to_median(v: str, stats: Stats) -> str:
    m = value(stats["median"])
    return f"greatest((100.0D - (abs((({double(v)} - {m}) / {m})) * 100.0D)), 0.0D)"


def _builtin_log_scale(v: str, stats: Stats) -> str:
    # (log(v + 1) / log(max + 1)) * 100
    mx = value(stats["max"])
    return f"((log(({double(v)} + 1.0D)) / log(({mx} + 1.0D))) * 100.0D)"


def _builtin_inverse_squared(v: str, stats: Stats) -> str:
    # ((min / v) ** 2) * 100
    mn = value(stats["min"])
    return f"(power(try_divide({mn}, {double(v)}), 2.0D) * 100.0D)"


BUILTIN_CUSTOM: Dict[str, Callable[[str, Stats], str]] = {
    "proximity_to_mean": _builtin_proximity_to_mean,
    "proximity_to_median": _builtin_proximity_to_median,
    "log_scale": _builtin_log_scale,
    "inverse_squared": _builtin_inverse_squared,
}


_BUILTIN_STAT_KEYS = {
    "proximity_to_mean": ("mean",),
    "proximity_to_median": ("median",),
    "log_scale": ("max",),
    "inverse_squared": ("min",),
}


class BuiltinCustomCriterion(CriterionBase):
    """String-named built-in custom function resolved to a SQL expression."""

    def __init__(self, name: str, weight: float, func_name: str, **config: Any):
        if func_name not in BUILTIN_CUSTOM:
            raise ValueError(
                f"Unknown built-in function: {func_name}. "
                f"Available: {list(BUILTIN_CUSTOM.keys())}"
            )
        super().__init__(name, weight, **config)
        self.func_name = func_name

    @property
    def required_stat_keys(self):  # type: ignore[override]
        return _BUILTIN_STAT_KEYS[self.func_name]

    def score_sql(self, v: str, stats: Stats) -> str:
        return BUILTIN_CUSTOM[self.func_name](v, stats)


class TemplateCriterion(CriterionBase):
    """Pre-built scoring template resolved to a SQL expression
    (reference ``custom_templates.py``; demo config vocabulary ``template``)."""

    def __init__(self, name: str, weight: float, template: str, **params: Any):
        super().__init__(name, weight, template=template, **params)
        from . import templates as _t

        if template not in _t.TEMPLATES:
            raise ValueError(f"Unknown template: {template}")
        self.template = template
        self.params = params

    @property
    def required_stat_keys(self):  # type: ignore[override]
        from . import templates as _t

        return _t.TEMPLATES[self.template]["stat_keys"]

    def score_sql(self, v: str, stats: Stats) -> str:
        from . import templates as _t

        return _t.apply_template(self.template, v, stats, **self.params)
