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
- **top_n tie policy via windows** (SURVEY §2.5-W4, §1.4-12): one predicate
  in the stage's rank projection. ``include`` keeps ranks <= n; ``exclude``
  keeps every bid when the active population is <= n; else, when at least
  n bids have a score, each bid with at most n bids scoring as high or
  higher. A null stage score fails every filter, as a pandas NaN comparison
  does.

The plan also decides which stages ran (see :mod:`.pipeline`): a
single-table plan counts its active rows per stage with work it already
does, raises the reference's all-eliminated warning (same text, during
``evaluate``) and drops the columns of the stages no bid reached; an empty
input runs no stage. The fluent criterion methods and ``evaluate`` /
``evaluate_batched`` are shared with :class:`.evaluator.Evaluator`; the
fluent methods add to the last stage.

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
from dataclasses import dataclass
from typing import Any, Dict, List, Optional

import pandas as pd
from pyspark.sql import DataFrame

from .evaluator import Evaluator, _EvaluatorBase, _read
from .pipeline import ELIM_COL, Plan
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


class StagedEvaluator(_EvaluatorBase):
    """Sequential multi-stage evaluation with inter-stage elimination.

    Builder surface mirrors the reference ``StagedEvaluator``
    (``staged.py:60-267``): ``add_stage`` + fluent criterion methods adding to
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

        return cls.from_config(_read(filepath, yaml.safe_load))

    @classmethod
    def from_json(cls, filepath: str) -> "StagedEvaluator":
        return cls.from_config(_read(filepath, json.load))

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

    def _target(self) -> Dict[str, Any]:
        if not self._stages:
            raise RuntimeError("No stages defined. Call add_stage() first.")
        return self._stages[-1].evaluator.criteria

    # === Evaluation (reference staged.py:271-375) ===

    def _pipeline(self):
        if not self._stages:
            raise RuntimeError("No stages defined. Add stages before evaluating.")
        return ([(s.name, s.evaluator.criteria, s.filter, s.weight, s.evaluator.normalize_weights)
                 for s in self._stages],
                {"staged": True, "final_mode": self.final_score_mode})

    def _evaluated(self, method: str) -> Plan:
        """The last plan, unless there is none or no stage ran in it (empty
        input: the reference returns before recording results)."""
        plan = self._last_plan
        if plan is None or len(plan.skipped) == len(plan.stages):
            raise RuntimeError(f"Call evaluate() before {method}().")
        return plan

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
        """Per stage, the statistics of the stage's active rows, keyed by
        criterion name (one job, when first called)."""
        plan = self._evaluated("get_statistics")
        return {name: stats for (name, _, _, _, _), stats
                in zip(plan.stages, self._named_statistics())}

    def get_stage_results(self) -> List[StageResult]:
        """Per stage, frames of its scored, advancing and eliminated rows
        (all with the full output columns, details included), in the
        caller's session: filters of the evaluation's output frame on its
        elimination index (None for a stage no bid reached). Getting them
        runs no job. When :meth:`evaluate` scored a small local input at call
        time they are data; otherwise each is lazy, and every frame its
        consumer collects runs the whole plan again."""
        plan = self._evaluated("get_stage_results")
        return [StageResult(s.name, None, None, None) if i in plan.skipped
                else StageResult(s.name, *plan.stage_frames(i))
                for i, s in enumerate(self._stages)]
