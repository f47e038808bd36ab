"""Plain (single-stage) evaluation engine, and the evaluation path it shares
with :class:`.staged.StagedEvaluator`.

Reference: ``bid_evaluation/evaluator.py`` — fluent interface + config
factories building a ``{column: criterion}`` map, then an eager pandas
``evaluate()``. This engine keeps the identical builder surface (same method
names, same config vocabulary, same error messages) and re-expresses
``evaluate`` as one Spark plan, a one-stage pipeline of
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

Both evaluators share :class:`_EvaluatorBase`: the seven fluent criterion
methods, the one ``evaluate`` / ``evaluate_batched`` path and the naming of
the plan's statistics. What an evaluation finds out (statistics, survivor
counts, the stages no bid reached) belongs to its plan.

``evaluate`` over a small driver-local input runs the plan at call time, as
one interpreted job (see :mod:`.pipeline`); over any other input a plain
evaluation runs no Spark job, and the consumer's action runs the whole plan
as one. :meth:`Evaluator.get_statistics` runs one job when called.

Scale note: one tender's bid table is scored in one partition. For scoring
many tenders at once, :meth:`Evaluator.evaluate_batched` partitions every
window by the batch key — one exchange, no driver loop.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Dict, List, Optional, Tuple, Union

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
from .pipeline import Plan
# re-exported only for perfbench/tracer.py, which wraps these names (ROADMAP item 4)
from .stats import compute_stats, grouped_stats_df  # noqa: F401


def _read(filepath: str, parse: Callable) -> Any:
    """The content of a config file, parsed by ``parse``."""
    with open(filepath, "r") as f:
        return parse(f)


class _EvaluatorBase:
    """What :class:`Evaluator` and :class:`.staged.StagedEvaluator` share: the
    fluent criterion methods, the evaluation path and the statistics report.

    A subclass says where the fluent methods add criteria
    (:meth:`_target`) and which stages it evaluates (:meth:`_pipeline`).
    """

    #: the plan of the last evaluation, which every later report reads
    _last_plan: Optional[Plan] = None

    def _target(self) -> Dict[str, CriterionBase]:
        """The ``{column: criterion}`` map the fluent methods add to."""
        raise NotImplementedError

    def _pipeline(self) -> Tuple[List[Tuple[str, Dict[str, CriterionBase], Any, float, bool]],
                                 Dict[str, Any]]:
        """``(stages, Plan options)``: ``(name, criteria, filter, weight,
        normalize_weights)`` per stage."""
        raise NotImplementedError

    # === Fluent interface — reference evaluator.py:116-237, staged.py:163-267 ===

    def linear(self, column: str, weight: float, name: Optional[str] = None,
               higher_is_better: bool = True):
        self._target()[column] = LinearCriterion(name or column, weight,
                                                 higher_is_better=higher_is_better)
        return self

    def threshold(self, column: str, weight: float, thresholds: list,
                  name: Optional[str] = None):
        self._target()[column] = ThresholdCriterion(name or column, weight, thresholds=thresholds)
        return self

    def direct(self, column: str, weight: float, name: Optional[str] = None,
               input_scale: float = 100):
        self._target()[column] = DirectScoreCriterion(name or column, weight,
                                                      input_scale=input_scale)
        return self

    def min_ratio(self, column: str, weight: float, name: Optional[str] = None):
        self._target()[column] = MinimumRatioCriterion(name or column, weight)
        return self

    def formula(self, column: str, weight: float, formula: str = "value",
                variables: Optional[dict] = None, name: Optional[str] = None):
        self._target()[column] = FormulaCriterion(name or column, weight,
                                                  formula=formula, variables=variables)
        return self

    def custom(self, column: str, weight: float,
               func: Union[str, Callable, None] = None,
               name: Optional[str] = None, **kwargs: Any):
        """Custom criterion: a callable ``(values: pd.Series, stats) -> pd.Series``
        (python-scored per partition group) or a built-in name
        (``proximity_to_mean``/``proximity_to_median``/``log_scale``/
        ``inverse_squared`` — SQL expressions, reference ``evaluator.py:239-251``)."""
        kind = BuiltinCustomCriterion if isinstance(func, str) else CustomCriterion
        self._target()[column] = kind(name or column, weight, func, **kwargs)
        return self

    def template(self, column: str, weight: float, template: str,
                 name: Optional[str] = None, **params: Any):
        """Pre-built scoring template criterion (demo vocabulary extension)."""
        self._target()[column] = TemplateCriterion(name or column, weight, template, **params)
        return self

    # === Evaluation — reference evaluator.py:275-319, staged.py:271-375 ===

    def _plan(self, df: DataFrame, keys: List[str], **options: Any) -> Plan:
        stages, plan_options = self._pipeline()
        self._last_plan = Plan(df, df.columns, keys, stages, **plan_options, **options)
        return self._last_plan

    def evaluate(self, df: DataFrame, include_details: bool = True,
                 stats_mode: str = "full") -> DataFrame:
        """Evaluate all bids → scored, ranked, sorted DataFrame.

        The result is the plan's one output frame (see :mod:`.pipeline`),
        less the detail columns when ``include_details`` is false and, for a
        staged evaluation, less the columns of stages no bid reached. A
        driver-local ``df`` (``df.isLocal()``, e.g. from
        ``createDataFrame(pandas_df)``) of at most
        :data:`~.pipeline.LOCAL_ROWS` rows is scored at call time, in one
        interpreted job: the result is a local frame in ``df``'s session,
        and errors surface here. Any other input gets a lazy frame, which
        its consumer's action runs as one job; a staged evaluation first
        runs one job that counts the active rows per stage. The plan's
        counts raise the reference's all-eliminated warning here, and an
        empty staged input leaves the evaluator un-evaluated, as the
        reference's early return does.

        Args:
            df: bid table (one row per bid).
            include_details: include the per-criterion score columns.
            stats_mode: what ``get_statistics()`` reports — ``"full"``
                (default, reference parity: the whole 7-stat bundle per
                criterion column) or ``"required"`` (exactly the stats each
                criterion's SQL text reads; a Python-scored criterion reads
                the whole bundle). Scores are identical: the plan computes
                only the statistics its expressions read either way.
        """
        if stats_mode not in ("full", "required"):
            raise ValueError(
                f"stats_mode must be 'full' or 'required', got: {stats_mode}"
            )
        return self._plan(df, [], include_details=include_details,
                          stats_mode=stats_mode).result()

    def evaluate_batched(self, df: DataFrame, batch_col: str,
                         include_details: bool = True) -> DataFrame:
        """Evaluate MANY independent bid tables (tenders/batches) in one plan.

        The same plan as :meth:`evaluate` with every window partitioned by
        ``batch_col``: per-batch statistics, scores and ranks with one
        exchange on the batch key and no global one, so each tender's rows
        match a standalone :meth:`evaluate` over just those rows
        (differentially tested). Python-scored criteria (``CustomCriterion``,
        formulas outside the translatable grammar) run in one grouped Arrow
        step over the batch key per stage, so a user function sees exactly
        one batch's active rows and statistics.

        Divergences from :meth:`evaluate`: no eager job and no all-eliminated
        warning (a batch whose bids are all eliminated stops producing
        scores; other batches continue), and ``get_statistics()`` reports
        nothing (statistics are per batch).
        """
        return self._plan(df, [batch_col], include_details=include_details).result()

    def _named_statistics(self) -> List[Dict[str, Dict[str, Any]]]:
        """Per stage of the last plan, its statistics keyed by criterion name
        (one job, when first read)."""
        plan = self._last_plan
        return [{crit.name: stats[col] for col, crit in criteria.items() if stats.get(col)}
                for (_, criteria, _, _, _), stats in zip(plan.stages, plan.statistics())]


class Evaluator(_EvaluatorBase):
    """Weighted multi-criteria scoring engine with fluent + config interfaces.

    Builder parity with reference ``Evaluator`` (``evaluator.py:21-273``);
    execution is Spark. Criteria are keyed by **column name** exactly like
    the reference (``evaluator.py:255-257``) — adding a second criterion on the
    same column silently replaces the first (documented reference trap,
    SURVEY §1.4-1).
    """

    def __init__(self, normalize_weights: bool = True):
        self.criteria: Dict[str, CriterionBase] = {}
        self.normalize_weights = normalize_weights

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

        return cls.from_config(_read(filepath, yaml.safe_load).get("criteria", {}),
                               normalize_weights)

    @classmethod
    def from_json(cls, filepath: str, normalize_weights: bool = True) -> "Evaluator":
        """Build from a JSON file with a top-level ``criteria`` key
        (reference ``evaluator.py:101-112``)."""
        return cls.from_config(_read(filepath, json.load).get("criteria", {}),
                               normalize_weights)

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

    def _target(self) -> Dict[str, CriterionBase]:
        return self.criteria

    def _pipeline(self):
        return [("", self.criteria, None, 1.0, self.normalize_weights)], {"staged": False}

    # === Introspection — reference evaluator.py:321-344 ===

    def get_statistics(self) -> Dict[str, Dict[str, Any]]:
        """Statistics of the last ``evaluate`` call, keyed by criterion name
        (reference ``evaluator.py:321-329``); empty before it. Computed on the
        first call — one Spark job — over the same rows the scores used."""
        return self._named_statistics()[0] if self._last_plan is not None else {}

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
