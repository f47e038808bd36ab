"""Multi-stage evaluation pipeline with elimination filters between stages.

Reference: ``bid_evaluation/staged.py`` — sequential stages, each scoring the
surviving bids with its own inner :class:`Evaluator`, then eliminating bids via
a ``score_threshold`` or ``top_n`` filter before the next stage. Stage
statistics are computed over **survivors only** (reference ``staged.py:317-320``,
verified SURVEY §1.4-10).

Spark-native design (vs. the reference's pandas-index machinery): the whole
pipeline is ONE plan (:class:`.pipeline.Plan`) in which stages chain
windows — no driver loop of jobs, no persist, no join:

- **No row index.** Elimination is a column (``eliminated_at_stage``, which
  the reference also materializes — ``staged.py:291,339``); stage scores are
  computed in place as ``CASE WHEN active THEN expr END`` projections.
- **Survivor-only statistics** are window aggregates over the rows still
  active at the stage, ``min(CASE WHEN active THEN v END) OVER (...)``.
- **Survivor ranking**: ``RANK() OVER (PARTITION BY active ORDER BY score
  DESC)`` masked to scored rows (SURVEY §2.5-W3).
- **top_n tie policy via windows** (SURVEY §2.5-W4, §1.4-12): the cutoff
  score (value at row_number n), the population count and the ≥-cutoff count
  are unbounded window aggregates over the active partition. A null stage
  score fails every filter, as a pandas NaN comparison does.

:meth:`StagedEvaluator.evaluate` needs the active rows per stage, which
drive the reference's all-eliminated warning (same text, raised during
``evaluate``) and answer empty input. A small driver-local input is scored
right there, in one interpreted job that also counts them (observed
metrics); any other input runs one eager counting job over the lazy output
frame, and the stages run in the consumer's action.

Exact-parity semantics preserved (all verified against the reference —
SURVEY §1.4): survivor-only statistics; eliminated bids keep the scores of
stages they completed; ``weighted_combination`` gives eliminated bids a real
final score via ``COALESCE(stage_score, 0)`` while ``last_stage`` leaves them
null; ranking only over non-eliminated bids; all-eliminated short-circuit with
the same warning text; output ordered by ``(ranking ASC NULLS LAST,
final_score DESC NULLS LAST)``; stage→column naming ``{safe}_score``,
``{safe}_ranking``, ``{safe}_{criterion}`` with the same name sanitization.
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass
from typing import Any, Callable, Dict, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .evaluator import Evaluator
from .pipeline import ELIM_COL, Plan, safe_name
# re-exported only for perfbench/tracer.py, which wraps this name (ROADMAP item 4)
from .stats import compute_stats  # noqa: F401


@dataclass
class StageFilter:
    """Filter configuration between stages (reference ``staged.py:16-37``)."""

    type: str  # 'score_threshold' or 'top_n'
    threshold: Optional[float] = None
    top_n: Optional[int] = None
    on_tie: str = "include"

    def __post_init__(self):
        if self.type not in ("score_threshold", "top_n"):
            raise ValueError(
                f"Unknown filter type: {self.type}. Use 'score_threshold' or 'top_n'."
            )
        if self.type == "score_threshold" and self.threshold is None:
            raise ValueError("threshold is required for score_threshold filter.")
        if self.type == "top_n" and self.top_n is None:
            raise ValueError("top_n is required for top_n filter.")
        if self.on_tie not in ("include", "exclude"):
            raise ValueError(
                f"on_tie must be 'include' or 'exclude', got: {self.on_tie}"
            )


@dataclass
class StageDefinition:
    """One evaluation stage (reference ``staged.py:40-47``)."""

    name: str
    evaluator: Evaluator
    filter: Optional[StageFilter] = None
    weight: float = 1.0


@dataclass
class StageResult:
    """Results of one stage (reference ``staged.py:50-57``).

    Spark has no row index, so instead of index sets this carries
    DataFrames: the rows the stage scored, the advancing rows and the rows
    eliminated *by this stage's filter* (None for skipped stages).
    """

    name: str
    result_df: Optional[DataFrame]
    advanced_df: Optional[DataFrame]
    eliminated_df: Optional[DataFrame]


class StagedEvaluator:
    """Sequential multi-stage evaluation with inter-stage elimination.

    Builder surface mirrors the reference ``StagedEvaluator``
    (``staged.py:60-267``): ``add_stage`` + fluent criterion methods routing to
    the last stage, plus ``from_config/from_yaml/from_json``.
    """

    ELIM_COL = ELIM_COL

    def __init__(self, final_score_mode: str = "last_stage"):
        if final_score_mode not in ("last_stage", "weighted_combination"):
            raise ValueError(
                f"final_score_mode must be 'last_stage' or 'weighted_combination', "
                f"got: {final_score_mode}"
            )
        self.final_score_mode = final_score_mode
        self._stages: List[StageDefinition] = []
        self._evaluated = False
        self._last_plan: Optional[Plan] = None

    # === Factory methods (reference staged.py:86-159) ===

    @classmethod
    def from_config(cls, config: Dict[str, Any]) -> "StagedEvaluator":
        """Build from ``{'final_score_mode': ..., 'stages': [...]}`` — same
        shape and defaults as the reference (``staged.py:86-145``)."""
        final_score_mode = config.get("final_score_mode", "last_stage")
        staged = cls(final_score_mode=final_score_mode)

        for stage_cfg in config.get("stages", []):
            name = stage_cfg["name"]
            weight = stage_cfg.get("weight", 1.0)

            stage_filter = None
            if "filter" in stage_cfg:
                f = stage_cfg["filter"]
                stage_filter = StageFilter(
                    type=f["type"],
                    threshold=f.get("threshold"),
                    top_n=f.get("top_n"),
                    on_tie=f.get("on_tie", "include"),
                )

            evaluator = Evaluator.from_config(stage_cfg.get("criteria", {}))
            staged._stages.append(
                StageDefinition(name=name, evaluator=evaluator,
                                filter=stage_filter, weight=weight)
            )

        return staged

    @classmethod
    def from_yaml(cls, filepath: str) -> "StagedEvaluator":
        import yaml

        with open(filepath, "r") as f:
            data = yaml.safe_load(f)
        return cls.from_config(data)

    @classmethod
    def from_json(cls, filepath: str) -> "StagedEvaluator":
        with open(filepath, "r") as f:
            data = json.load(f)
        return cls.from_config(data)

    # === Fluent interface (reference staged.py:163-267) ===

    def add_stage(
        self,
        name: str,
        filter_type: Optional[str] = None,
        threshold: Optional[float] = None,
        top_n: Optional[int] = None,
        on_tie: str = "include",
        weight: float = 1.0,
    ) -> "StagedEvaluator":
        stage_filter = None
        if filter_type is not None:
            stage_filter = StageFilter(
                type=filter_type, threshold=threshold, top_n=top_n, on_tie=on_tie
            )
        self._stages.append(
            StageDefinition(name=name, evaluator=Evaluator(),
                            filter=stage_filter, weight=weight)
        )
        return self

    def _current_evaluator(self) -> Evaluator:
        if not self._stages:
            raise RuntimeError("No stages defined. Call add_stage() first.")
        return self._stages[-1].evaluator

    def linear(self, column: str, weight: float, name: Optional[str] = None,
               higher_is_better: bool = True) -> "StagedEvaluator":
        self._current_evaluator().linear(column, weight, name, higher_is_better)
        return self

    def threshold(self, column: str, weight: float, thresholds: list,
                  name: Optional[str] = None) -> "StagedEvaluator":
        self._current_evaluator().threshold(column, weight, thresholds, name)
        return self

    def direct(self, column: str, weight: float, name: Optional[str] = None,
               input_scale: float = 100) -> "StagedEvaluator":
        self._current_evaluator().direct(column, weight, name, input_scale)
        return self

    def min_ratio(self, column: str, weight: float,
                  name: Optional[str] = None) -> "StagedEvaluator":
        self._current_evaluator().min_ratio(column, weight, name)
        return self

    def formula(self, column: str, weight: float, formula: str = "value",
                variables: Optional[dict] = None,
                name: Optional[str] = None) -> "StagedEvaluator":
        self._current_evaluator().formula(column, weight, formula, variables, name)
        return self

    def custom(self, column: str, weight: float, func: Optional[Callable] = None,
               name: Optional[str] = None, **kwargs: Any) -> "StagedEvaluator":
        self._current_evaluator().custom(column, weight, func, name, **kwargs)
        return self

    def template(self, column: str, weight: float, template: str,
                 name: Optional[str] = None, **params: Any) -> "StagedEvaluator":
        self._current_evaluator().template(column, weight, template, name, **params)
        return self

    # === Evaluation (reference staged.py:271-375) ===

    def _plan(self, df: DataFrame, keys: List[str], **options: Any) -> Plan:
        if not self._stages:
            raise RuntimeError("No stages defined. Add stages before evaluating.")
        columns = df.columns
        for stage in self._stages:
            stage.evaluator._check_columns(columns)
            for criterion in stage.evaluator.criteria.values():
                criterion._statistics = {}
        stages = [(s.name, s.evaluator, s.filter, s.weight) for s in self._stages]
        plan = Plan(df, columns, keys, stages, staged=True,
                    final_mode=self.final_score_mode, **options)
        for stage in self._stages:
            stage.evaluator._last_plan = None if keys else plan
        self._last_plan = plan
        return plan

    def evaluate(self, df: DataFrame, include_details: bool = True,
                 stats_mode: str = "full") -> DataFrame:
        """Run all stages over ``df`` → scored/eliminated/ranked frame.

        The stages build one output frame (see :mod:`.pipeline`); the
        result and :meth:`get_stage_results` are derived from it. A
        driver-local ``df`` (``df.isLocal()``) of at most
        :data:`~.pipeline.LOCAL_ROWS` rows is scored at call time, in one
        interpreted job that also counts the active rows per stage: the
        result is a local frame in ``df``'s session, and errors surface here.
        Any other input gets a lazy frame, after one eager job over it that
        counts the active rows per stage. Either way the counts drive the
        all-eliminated warning and answer empty input. ``stats_mode``
        chooses what :meth:`get_statistics` reports (``"required"``: only
        the stats each criterion reads).
        """
        if stats_mode not in ("full", "required"):
            raise ValueError(
                f"stats_mode must be 'full' or 'required', got: {stats_mode}"
            )
        plan = self._plan(df, [], include_details=include_details, stats_mode=stats_mode)
        counts = plan.active_counts()
        if counts[0] == 0:
            return self._empty_result(df)
        for stage, n_active in zip(self._stages, counts):
            if n_active == 0:
                # all bids eliminated — same warning text as reference staged.py:300-307
                warnings.warn(
                    f"All bids were eliminated before stage '{stage.name}'. "
                    f"Skipping this and subsequent stages."
                )
        plan.skipped = {i for i, n in enumerate(counts) if n == 0}
        self._evaluated = True
        return plan.result()

    def evaluate_batched(self, df: DataFrame, batch_col: str,
                         include_details: bool = True) -> DataFrame:
        """Staged evaluation of MANY independent bid tables in one plan.

        The same plan as :meth:`evaluate` with every window partitioned by
        ``batch_col``, so each tender's semantics match a standalone
        :meth:`evaluate` over just its rows (differentially tested) with one
        exchange on the batch key and no global one.

        Divergences from :meth:`evaluate` (which mirrors the single-table
        reference): no eager job and no all-eliminated warning (a batch whose
        bids are all eliminated simply stops producing scores; other batches
        continue), and :meth:`get_statistics` is unavailable (statistics are
        per batch). ``CustomCriterion`` runs in one grouped Arrow step over
        the batch key per stage that has one: the user fn sees only that
        batch's ACTIVE rows and their statistics — exactly the per-batch
        :meth:`evaluate` contract; eliminated rows keep null scores.
        """
        plan = self._plan(df, [batch_col], include_details=include_details)
        self._evaluated = True
        return plan.result()

    def _safe_name(self, name: str) -> str:
        """Stage name → column-name fragment (reference ``staged.py:455-457``)."""
        return safe_name(name)

    def _empty_result(self, df: DataFrame) -> DataFrame:
        """Empty input → empty frame with contract columns
        (reference ``staged.py:459-465``)."""
        return (
            df.withColumn(self.ELIM_COL, F.lit(None).cast("string"))
            .withColumn("final_score", F.lit(None).cast("double"))
            .withColumn("ranking", F.lit(None).cast("long"))
        )

    def release(self) -> None:
        """Kept for callers of earlier versions, which cached per-stage
        frames: evaluation persists nothing, so there is nothing to release."""

    # === Informational methods (reference staged.py:469-511) ===

    def summary(self) -> pd.DataFrame:
        rows = []
        for stage in self._stages:
            filter_desc = "None"
            if stage.filter is not None:
                if stage.filter.type == "score_threshold":
                    filter_desc = f"score >= {stage.filter.threshold}"
                elif stage.filter.type == "top_n":
                    filter_desc = f"top {stage.filter.top_n} (on_tie={stage.filter.on_tie})"
            for column, criterion in stage.evaluator.criteria.items():
                rows.append({
                    "stage": stage.name,
                    "stage_weight": stage.weight,
                    "filter": filter_desc,
                    "column": column,
                    "criterion_name": criterion.name,
                    "criterion_type": type(criterion).__name__,
                    "criterion_weight": criterion.weight,
                })
        return pd.DataFrame(rows)

    def get_statistics(self) -> Dict[str, Dict[str, Any]]:
        """Per stage, the statistics of the stage's active rows (one job,
        when first called)."""
        if not self._evaluated:
            raise RuntimeError("Call evaluate() before get_statistics().")
        return {s.name: s.evaluator.get_statistics() for s in self._stages}

    def get_stage_results(self) -> List[StageResult]:
        """Per stage, frames of its scored, advancing and eliminated rows
        (all with the full output columns, details included), in the
        caller's session: filters of the evaluation's output frame on its
        elimination index. They run no job here: when :meth:`evaluate`
        scored a small local input at call time they are data, else lazy."""
        if not self._evaluated:
            raise RuntimeError("Call evaluate() before get_stage_results().")
        plan = self._last_plan
        return [StageResult(s.name, None, None, None) if i in plan.skipped
                else StageResult(s.name, *plan.stage_frames(i))
                for i, s in enumerate(self._stages)]
