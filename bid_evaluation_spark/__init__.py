"""bid_evaluation_spark — a PySpark-native weighted multi-criteria scoring & ranking engine.

A from-scratch Spark engine with the query/data-processing capabilities of the
``escobar-david/bid_evaluation`` reference library (see SURVEY.md):

- six criterion types (linear, threshold, direct, min_ratio, formula, custom)
  re-expressed as pure ``pyspark.sql.Column`` expression factories
  (reference: ``bid_evaluation/criteria.py``),
- automatic per-column statistics via ONE fused DataFrame aggregation
  (reference computes N separate pandas passes — ``criteria.py:19-29``),
- a plain :class:`Evaluator` (reference: ``bid_evaluation/evaluator.py``) and a
  multi-stage :class:`StagedEvaluator` with elimination filters
  (reference: ``bid_evaluation/staged.py``),
- pre-built scoring templates (reference: ``bid_evaluation/custom_templates.py``).

Everything is expressed declaratively (DataFrame/Column/Window) so Catalyst
performs predicate pushdown, column pruning and whole-stage codegen; Python
only runs on the driver (config + collected 1-row statistics) and inside
Arrow-vectorized pandas UDFs for user-supplied scoring functions.
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
