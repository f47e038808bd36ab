"""bid_evaluation_spark — a PySpark-native weighted multi-criteria scoring & ranking engine.

A from-scratch Spark engine with the query/data-processing capabilities of the
``escobar-david/bid_evaluation`` reference library (see SURVEY.md):

- six criterion types (linear, threshold, direct, min_ratio, formula, custom)
  re-expressed as SQL expression emitters
  (reference: ``bid_evaluation/criteria.py``),
- per-column statistics as window aggregates inside the evaluation's plan
  (reference computes N separate pandas passes — ``criteria.py:19-29``),
- a plain :class:`Evaluator` (reference: ``bid_evaluation/evaluator.py``) and a
  multi-stage :class:`StagedEvaluator` with elimination filters
  (reference: ``bid_evaluation/staged.py``), both built as ONE plan,
- pre-built scoring templates (reference: ``bid_evaluation/custom_templates.py``).

Every evaluation is one SQL plan, so Catalyst performs column pruning across
statistics, scores, ranks and the sort. A small driver-local bid table is
scored at call time with the plan interpreted (no Java compiled per tender);
any other input gets a lazy plan with whole-stage codegen. Python only runs
on the driver (building the plan text) and in one grouped Arrow step per
stage for user-supplied scoring functions.
"""

__version__ = "0.1.0"

from .functions.criteria import (
    CriterionBase,
    LinearCriterion,
    ThresholdCriterion,
    DirectScoreCriterion,
    MinimumRatioCriterion,
    FormulaCriterion,
    CustomCriterion,
    BuiltinCustomCriterion,
    TemplateCriterion,
)
from .functions import templates as custom_templates
from .plans.evaluator import Evaluator
from .plans.staged import StagedEvaluator, StageFilter, StageDefinition, StageResult

__all__ = [
    "CriterionBase",
    "LinearCriterion",
    "ThresholdCriterion",
    "DirectScoreCriterion",
    "MinimumRatioCriterion",
    "FormulaCriterion",
    "CustomCriterion",
    "BuiltinCustomCriterion",
    "TemplateCriterion",
    "Evaluator",
    "StagedEvaluator",
    "StageFilter",
    "StageDefinition",
    "StageResult",
    "custom_templates",
]
