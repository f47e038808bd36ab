"""Plain (single-stage) evaluation engine.

Reference: ``bid_evaluation/evaluator.py`` — fluent interface + config
factories building a ``{column: criterion}`` map, then an eager pandas
``evaluate()``. This engine keeps the identical builder surface (same method
names, same config vocabulary, same error messages) and re-expresses
``evaluate`` as one lazy Spark plan, a one-stage pipeline of
:class:`.pipeline.Plan`:

1. each criterion column's statistics as window aggregates in the plan
   (the reference runs one pandas pass per criterion — ``evaluator.py:291-295``),
2. all weighted score columns (``score_{name}`` columns are weight-multiplied
   contributions, reference ``evaluator.py:294-295``),
3. ``final_score = sum(weighted scores) / total_weight`` when
   ``normalize_weights`` (default), else the raw sum (``evaluator.py:299-312``),
4. ``ranking`` via ``RANK() OVER (ORDER BY final_score DESC)`` over the bids
   with a score — pandas ``rank(ascending=False, method='min')``
   (``evaluator.py:315-317``),
5. result ordered by ranking (``evaluator.py:319``).

``evaluate`` runs no Spark job: the consumer's action runs the whole plan as
one. :meth:`Evaluator.get_statistics` runs one job when called.

Scale note: one tender's bid table is scored in one partition. For scoring
many tenders at once, :meth:`Evaluator.evaluate_batched` partitions every
window by the batch key — one exchange, no driver loop.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Dict, List, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.criteria import (
    BuiltinCustomCriterion,
    CriterionBase,
    CustomCriterion,
    DirectScoreCriterion,
    FormulaCriterion,
    LinearCriterion,
    MinimumRatioCriterion,
    TemplateCriterion,
    ThresholdCriterion,
)
from ..functions.sql import double, num
from .pipeline import Plan
# re-exported only for perfbench/tracer.py, which wraps these names (ROADMAP item 4)
from .stats import compute_stats, grouped_stats_df  # noqa: F401


class Evaluator:
    """Weighted multi-criteria scoring engine with fluent + config interfaces.

    Builder parity with reference ``Evaluator`` (``evaluator.py:21-273``);
    execution is lazy Spark. Criteria are keyed by **column name** exactly like
    the reference (``evaluator.py:255-257``) — adding a second criterion on the
    same column silently replaces the first (documented reference trap,
    SURVEY §1.4-1).
    """

    def __init__(self, normalize_weights: bool = True):
        self.criteria: Dict[str, CriterionBase] = {}
        self.normalize_weights = normalize_weights
        # the plan get_statistics() reads, set by the last single-table evaluation
        self._last_plan: Optional[Plan] = None

    # === Factory methods (from config) — reference evaluator.py:34-112 ===

    @classmethod
    def from_config(cls, config: Dict[str, Dict[str, Any]],
                    normalize_weights: bool = True) -> "Evaluator":
        """Build from ``{column: {'type': ..., 'weight': ..., ...}}``.

        Same five string type tags and error behavior as the reference
        (``evaluator.py:34-76``; ``custom`` is deliberately config-unsupported
        there), extended with the demos' ``template`` vocabulary
        (``demos/streamlit_demo.py:428-479``).
        """
        evaluator = cls(normalize_weights=normalize_weights)

        for column, params in config.items():
            params = dict(params)
            criterion_type = params.pop("type")
            weight = params.pop("weight")
            name = params.pop("name", column)

            if criterion_type == "linear":
                criterion: CriterionBase = LinearCriterion(name, weight, **params)
            elif criterion_type == "threshold":
                thresholds = [tuple(t) for t in params.pop("thresholds", [])]
                criterion = ThresholdCriterion(name, weight, thresholds=thresholds, **params)
            elif criterion_type == "direct":
                criterion = DirectScoreCriterion(name, weight, **params)
            elif criterion_type == "min_ratio":
                criterion = MinimumRatioCriterion(name, weight, **params)
            elif criterion_type == "formula":
                formula_str = params.pop("formula", "value")
                variables = params.pop("variables", {})
                criterion = FormulaCriterion(name, weight, formula=formula_str,
                                             variables=variables, **params)
            elif criterion_type == "template":
                template = params.pop("template")
                criterion = TemplateCriterion(name, weight, template, **params)
            else:
                raise ValueError(f"Unknown criterion type: {criterion_type}")

            evaluator.add_criterion(column, criterion)

        return evaluator

    @classmethod
    def from_yaml(cls, filepath: str, normalize_weights: bool = True) -> "Evaluator":
        """Build from a YAML file with a top-level ``criteria:`` key
        (reference ``evaluator.py:78-99``)."""
        import yaml

        with open(filepath, "r") as f:
            data = yaml.safe_load(f)
        return cls.from_config(data.get("criteria", {}), normalize_weights)

    @classmethod
    def from_json(cls, filepath: str, normalize_weights: bool = True) -> "Evaluator":
        """Build from a JSON file with a top-level ``criteria`` key
        (reference ``evaluator.py:101-112``)."""
        with open(filepath, "r") as f:
            data = json.load(f)
        return cls.from_config(data.get("criteria", {}), normalize_weights)

    # === Fluent interface — reference evaluator.py:116-237 ===

    def linear(self, column: str, weight: float, name: Optional[str] = None,
               higher_is_better: bool = True) -> "Evaluator":
        self.add_criterion(column, LinearCriterion(name or column, weight,
                                                   higher_is_better=higher_is_better))
        return self

    def threshold(self, column: str, weight: float, thresholds: list,
                  name: Optional[str] = None) -> "Evaluator":
        self.add_criterion(column, ThresholdCriterion(name or column, weight,
                                                      thresholds=thresholds))
        return self

    def direct(self, column: str, weight: float, name: Optional[str] = None,
               input_scale: float = 100) -> "Evaluator":
        self.add_criterion(column, DirectScoreCriterion(name or column, weight,
                                                        input_scale=input_scale))
        return self

    def min_ratio(self, column: str, weight: float, name: Optional[str] = None) -> "Evaluator":
        self.add_criterion(column, MinimumRatioCriterion(name or column, weight))
        return self

    def formula(self, column: str, weight: float, formula: str = "value",
                variables: Optional[dict] = None, name: Optional[str] = None) -> "Evaluator":
        self.add_criterion(column, FormulaCriterion(name or column, weight,
                                                    formula=formula, variables=variables))
        return self

    def custom(self, column: str, weight: float,
               func: Union[str, Callable, None] = None,
               name: Optional[str] = None, **kwargs: Any) -> "Evaluator":
        """Custom criterion: a callable ``(values: pd.Series, stats) -> pd.Series``
        (python-scored per partition group) or a built-in name
        (``proximity_to_mean``/``proximity_to_median``/``log_scale``/
        ``inverse_squared`` — SQL expressions, reference ``evaluator.py:239-251``)."""
        if isinstance(func, str):
            self.add_criterion(column, BuiltinCustomCriterion(name or column, weight,
                                                              func, **kwargs))
        else:
            self.add_criterion(column, CustomCriterion(name or column, weight,
                                                       func, **kwargs))
        return self

    def template(self, column: str, weight: float, template: str,
                 name: Optional[str] = None, **params: Any) -> "Evaluator":
        """Pre-built scoring template criterion (demo vocabulary extension)."""
        self.add_criterion(column, TemplateCriterion(name or column, weight,
                                                     template, **params))
        return self

    # === Core methods — reference evaluator.py:255-273 ===

    def add_criterion(self, column: str, criterion: CriterionBase) -> None:
        self.criteria[column] = criterion

    def remove_criterion(self, column: str) -> None:
        if column in self.criteria:
            del self.criteria[column]

    def get_total_weight(self) -> float:
        return sum(c.weight for c in self.criteria.values())

    def get_normalized_weights(self) -> Dict[str, float]:
        total = self.get_total_weight()
        if total == 0:
            return {}
        return {name: c.weight / total for name, c in self.criteria.items()}

    # === Evaluation — reference evaluator.py:275-319 ===

    def _check_columns(self, columns: Sequence[str]) -> None:
        existing = set(columns)
        for column in self.criteria:
            if column not in existing:
                # reference raises a plain KeyError at bids_df[column]
                # (evaluator.py:292) — preserve the exception type
                raise KeyError(column)

    def _final_score_sql(self, weighted: List[str]) -> str:
        if not weighted:
            return "CAST(0 AS DOUBLE)"
        total = weighted[0]
        for w in weighted[1:]:
            total = f"({total} + {w})"
        if self.normalize_weights:
            total_weight = self.get_total_weight()
            if total_weight > 0:
                return double(f"({total} / {num(total_weight)})")
            return "CAST(0 AS DOUBLE)"
        return double(total)

    def _plan(self, df: DataFrame, keys: List[str], **options: Any) -> Plan:
        columns = df.columns
        self._check_columns(columns)
        for criterion in self.criteria.values():
            criterion._statistics = {}
        plan = Plan(df, columns, keys, [("", self, None, 1.0)], staged=False, **options)
        self._last_plan = None if keys else plan
        return plan

    def evaluate(self, df: DataFrame, include_details: bool = True,
                 rank_partition_by: Optional[str] = None,
                 stats_mode: str = "full",
                 approx_percentiles: bool = False) -> DataFrame:
        """Evaluate all bids → scored, ranked, sorted DataFrame (lazy).

        Args:
            df: bid table (one row per bid).
            include_details: include per-criterion ``score_{name}`` columns.
            rank_partition_by: optional column to partition the ranking window
                by (statistics stay over the whole table).
            stats_mode: what :meth:`get_statistics` reports — ``"full"``
                (default, reference parity: the whole 7-stat bundle per
                criterion column) or ``"required"`` (only the stats each
                criterion's expression reads). Scores are identical: the plan
                computes only the statistics its expressions read either way.
            approx_percentiles: compute median/q25/q75 with
                ``percentile_approx`` (O(1) sketch state per column) instead
                of the reference-exact ``percentile`` (which buffers every
                value) — the 100-TB quantile path; ≤0.01% rank error,
                min/max/mean/std stay exact. Documented divergence.
        """
        if stats_mode not in ("full", "required"):
            raise ValueError(
                f"stats_mode must be 'full' or 'required', got: {stats_mode}"
            )
        plan = self._plan(df, [], rank_by=rank_partition_by, stats_mode=stats_mode,
                          approx_percentiles=approx_percentiles)
        return plan.result(include_details)

    def evaluate_batched(self, df: DataFrame, batch_col: str,
                         include_details: bool = True) -> DataFrame:
        """Evaluate MANY independent bid tables (tenders/batches) in one job.

        The same plan as :meth:`evaluate` with every window partitioned by
        ``batch_col``: per-batch statistics, scores and ranks with one
        exchange on the batch key and no global one. Python-scored criteria
        (``CustomCriterion``, formulas outside the translatable grammar) run
        in one grouped Arrow step over the batch key, so a user function
        sees exactly one batch's rows and statistics, as in a per-batch
        :meth:`evaluate`. :meth:`get_statistics` is unavailable here
        (statistics are per batch).
        """
        return self._plan(df, [batch_col]).result(include_details)

    # === Introspection — reference evaluator.py:321-344 ===

    def get_statistics(self) -> Dict[str, Dict[str, Any]]:
        """Statistics of the last ``evaluate`` call, keyed by criterion name
        (reference ``evaluator.py:321-329``). Computed on the first call —
        one Spark job — over the same rows the scores used."""
        plan = self._last_plan
        if plan is not None:
            stage = next(i for i, st in enumerate(plan.stages) if st[1] is self)
            stats = plan.statistics()[stage]
            for column, criterion in self.criteria.items():
                criterion._statistics = stats.get(column, {})
        statistics = {}
        for column, criterion in self.criteria.items():
            if criterion._statistics:
                statistics[criterion.name] = criterion._statistics
        return statistics

    def summary(self) -> pd.DataFrame:
        """Driver-side summary of configured criteria (reference
        ``evaluator.py:331-344``) — config metadata, so plain pandas."""
        data = []
        total = self.get_total_weight()
        for column, criterion in self.criteria.items():
            data.append({
                "column": column,
                "criterion_name": criterion.name,
                "type": type(criterion).__name__,
                "weight": criterion.weight,
                "normalized_weight": criterion.weight / total if total > 0 else 0,
            })
        return pd.DataFrame(data)
