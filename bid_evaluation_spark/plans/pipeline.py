"""One lazy plan per evaluation, built from SQL text.

All four entry points — :meth:`Evaluator.evaluate` / ``evaluate_batched`` and
:meth:`StagedEvaluator.evaluate` / ``evaluate_batched`` — build their result
here, as one plan parameterised by partition keys: ``[]`` for one bid table,
``[batch_col]`` for many independent tenders at once. A plain ``Evaluator``
is a one-stage pipeline. Per stage the plan computes:

1. statistics as window aggregates over the stage's active rows,
   ``min(CASE WHEN <active> AND NOT isnan(v) THEN v END) OVER (PARTITION BY
   keys)`` (:mod:`.stats`) — nothing is collected, and Catalyst prunes any
   statistic nothing reads;
2. python-scored criteria (custom functions, formulas outside the
   translatable grammar) in ONE grouped Arrow step over the keys, each group
   handing the function its active values and their statistics;
3. weighted criterion scores, masked to the active rows;
4. the stage score (NaN → null), the stage rank and the ``top_n`` helpers;
5. the elimination state ``_bes_e<i>``: the index of the eliminating stage,
   null while a bid is alive — so stages chain windows, and survivor-only
   statistics are aggregates over the next stage's active rows.

Then the final score, the rank over the alive bids with a score, and the
sort. The plan is SQL text, analyzed by one ``spark.sql`` call over a
temporary view of the input: built from Column objects, every function call
and operator is a Python→JVM round trip (~1,800 per plain tender, ~3,800 per
staged one), while text costs one call. Names and numbers enter the text only
through :mod:`..functions.sql`.

With keys ``[]`` the input is coalesced to one partition, so every window
shares it, the final sort needs no range exchange, and a plain evaluation is
one Spark job. Nothing is persisted; a staged single-table evaluation runs
one eager job, :meth:`Plan.active_counts`, for the reference's
all-eliminated warning.
"""

from __future__ import annotations

import uuid
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.sql import NULL_DOUBLE, double, ident, num, string
from .stats import STAT_KEYS, _Q_IDX, collect_stats, stat_aggregates, stat_input, stat_refs

ELIM_COL = "eliminated_at_stage"


def safe_name(name: str) -> str:
    """Stage name → column-name fragment (reference ``staged.py:455-457``)."""
    return name.lower().replace(" ", "_").replace("-", "_")


def _alive(elim: Optional[str]) -> Optional[str]:
    """Rows not eliminated under elimination column ``elim`` (None: all)."""
    return None if elim is None else f"({elim} IS NULL)"


class Plan:
    """The lazy plan of one evaluation.

    ``stages`` holds ``(name, evaluator, filter, weight)`` per stage;
    ``staged`` selects the staged output contract (elimination column,
    per-stage score and ranking columns, ``final_mode``) over the plain one
    (``score_<name>`` columns, ``final_score``, ``ranking``).
    """

    def __init__(self, df: DataFrame, columns: Sequence[str], keys: Sequence[str],
                 stages: Sequence[Tuple[str, Any, Any, float]], *, staged: bool,
                 final_mode: str = "last_stage", rank_by: Optional[str] = None,
                 approx_percentiles: bool = False, stats_mode: str = "full"):
        self.columns = list(columns)
        self.keys = list(keys)
        self.stages = list(stages)
        self.staged = staged
        self.rank_by = rank_by
        self.approx = approx_percentiles
        self.stats_mode = stats_mode
        self.skipped: set = set()  # stages no bid reached (set by the caller)
        self._frame = df
        self._coalesce = not self.keys
        self._layers: List[List[str]] = []
        self._cols = list(self.columns)
        self._hidden_df: Optional[DataFrame] = None
        self._statistics: Optional[List[Dict[str, Dict]]] = None
        self._elim: Optional[str] = None
        # elimination column before and after each stage (None: no filter yet)
        self.elim_before: List[Optional[str]] = []
        self.elim_after: List[Optional[str]] = []
        self.details: List[Dict[str, str]] = []  # output name → hidden column
        for i, stage in enumerate(self.stages):
            self._stage(i, *stage, last=i == len(self.stages) - 1)
        self._final(final_mode)

    # --- SQL text ---------------------------------------------------------

    def _add(self, exprs: Dict[str, str]) -> None:
        """Append one projection layer, ``SELECT *, <expr> AS <name>, ...``."""
        if exprs:
            self._layers.append(["*"] + [f"{e} AS {n}" for n, e in exprs.items()])
            self._cols += list(exprs)
            self._hidden_df = None

    def _over(self, extra: Optional[str] = None, order: Optional[str] = None,
              keys: Optional[Sequence[str]] = None) -> str:
        parts = [ident(k) for k in (self.keys if keys is None else keys)]
        if extra:
            parts.append(extra)
        spec = f"PARTITION BY {', '.join(parts)}" if parts else ""
        if order:
            spec += f" ORDER BY {order}"
        return f"OVER ({spec.strip()})"

    def _hidden(self) -> DataFrame:
        """The plan so far, hidden columns included, analyzed once."""
        if self._hidden_df is None:
            def chain(view: str) -> str:
                query = f"SELECT {'/*+ COALESCE(1) */ ' if self._coalesce else ''}* FROM {view}"
                for n, layer in enumerate(self._layers):
                    query = f"SELECT {', '.join(layer)} FROM ({query}) AS _bes_q{n}"
                return query

            self._hidden_df = _sql(self._frame, chain)
        return self._hidden_df

    def _run(self, select: str, tail: str = "") -> DataFrame:
        """``SELECT <select> FROM <the plan so far> <tail>``."""
        return _sql(self._hidden(), lambda view: f"SELECT {select} FROM {view} {tail}")

    # --- stages -----------------------------------------------------------

    def _stage(self, i: int, name: str, evaluator, flt, weight: float, last: bool) -> None:
        active = _alive(self._elim)
        self.elim_before.append(self._elim)
        crits = list(evaluator.criteria.items())
        windows: Dict[str, str] = {}
        refs: Dict[str, Dict[str, str]] = {}
        python = []
        for j, (col, crit) in enumerate(crits):
            keys = crit.required_stat_keys
            cols = {}
            for k, agg in stat_aggregates(stat_input(ident(col), active), keys, self.approx).items():
                cols[k] = f"_bes_{i}_{j}_{k}"
                windows[cols[k]] = f"{agg} {self._over()}"
            refs[col] = stat_refs(cols, keys)
            if crit.python_scored:
                stat_cols = {k: (cols["q"], _Q_IDX[k]) if k in _Q_IDX else (cols[k], None)
                             for k in STAT_KEYS if k in set(keys)}
                python.append((f"_bes_{i}_{j}_py", col, stat_cols, crit))
        self._add(windows)
        if python:
            self._python(python)

        prefix = f"{safe_name(name)}_" if self.staged else "score_"
        details: Dict[str, str] = {}
        scores: Dict[str, str] = {}
        for j, (col, crit) in enumerate(crits):
            score = f"_bes_{i}_{j}_py" if crit.python_scored else crit.score_sql(ident(col), refs[col])
            w = crit.weighted_sql(score)
            scores[f"_bes_{i}_{j}_w"] = w if active is None else double(f"CASE WHEN {active} THEN {w} END")
            details[prefix + crit.name] = f"_bes_{i}_{j}_w"
        self._add(scores)
        self.details.append(details)

        s = f"_bes_{i}_s"
        total = evaluator._final_score_sql(list(details.values()))
        if active is not None:
            total = double(f"CASE WHEN {active} THEN {total} END")
        self._add({s: f"nanvl({total}, {NULL_DOUBLE})"})

        # stage rank and elimination: windows over the active rows by score
        ordered = self._over(active, f"{s} DESC")
        layer: Dict[str, str] = {}
        if self.staged:
            layer[f"_bes_{i}_r"] = f"CASE WHEN {s} IS NOT NULL THEN CAST(rank() {ordered} AS BIGINT) END"
        flt = None if last else flt
        advances = None
        if flt is not None and flt.type == "score_threshold":
            advances = f"({s} >= {num(flt.threshold)})"
        elif flt is not None and flt.on_tie == "include":
            advances = f"(rank() {ordered} <= {int(flt.top_n)})"
        elif flt is not None:
            # on_tie="exclude": cutoff = score at descending position n; all
            # advance when the population is <= n; when more than n rows
            # score >= cutoff, only rows strictly above it advance
            n = int(flt.top_n)
            everyone = self._over(active)
            layer[f"_bes_{i}_rn"] = f"row_number() {ordered}"
            self._add(layer)
            layer = {}
            self._add({f"_bes_{i}_cut": f"max(CASE WHEN _bes_{i}_rn = {n} THEN {s} END) {everyone}",
                       f"_bes_{i}_tot": f"count(1) {everyone}"})
            ge = f"count(CASE WHEN ({s} >= _bes_{i}_cut) THEN 1 END) {everyone}"
            advances = (f"CASE WHEN (_bes_{i}_tot <= {n}) THEN true "
                        f"WHEN ({ge} > {n}) THEN ({s} > _bes_{i}_cut) "
                        f"ELSE ({s} >= _bes_{i}_cut) END")
        if advances is not None:
            cond = f"(NOT {advances})" if active is None else f"({active} AND (NOT {advances}))"
            e = f"_bes_e{i + 1}"
            layer[e] = f"CASE WHEN {cond} THEN {i} ELSE {self._elim or 'CAST(NULL AS INT)'} END"
            self._elim = e
        self._add(layer)
        self.elim_after.append(self._elim)

    def _python(self, items) -> None:
        """Score python criteria in one grouped Arrow step over the keys.

        Columns travel under positional names (``applyInArrow`` cannot take
        every column name) and as Arrow data, so payload values — NaN
        included — pass through untouched."""
        pos = {c: f"_bes_p{k}" for k, c in enumerate(self._cols)}
        frame = self._run(", ".join(f"{ident(c)} AS {p}" for c, p in pos.items()))
        outs = [out for out, _, _, _ in items]
        schema = StructType(frame.schema.fields + [StructField(o, DoubleType()) for o in outs])
        scorer = _group_scorer([(out, pos[col], {k: (pos[c], idx) for k, (c, idx) in sc.items()}, crit)
                                for out, col, sc, crit in items], pos.get(self._elim))
        self._frame = frame.groupBy(*[pos[k] for k in self.keys]).applyInArrow(scorer, schema)
        self._coalesce = False
        self._layers = [[f"{p} AS {ident(c)}" for c, p in pos.items()] + outs]
        self._cols += outs
        self._hidden_df = None

    def _final(self, final_mode: str) -> None:
        if not self.staged:
            self._f = "_bes_0_s"
        elif final_mode == "last_stage":
            self._f = f"_bes_{len(self.stages) - 1}_s"
        else:
            total_weight = sum(w for _, _, _, w in self.stages)
            final = NULL_DOUBLE
            if total_weight != 0:
                final = "0.0D"
                for i, (_, _, _, w) in enumerate(self.stages):
                    final = f"({final} + (coalesce(_bes_{i}_s, 0.0D) * {num(w / total_weight)}))"
                final = f"nanvl({double(final)}, {NULL_DOUBLE})"
            self._f = "_bes_f"
            self._add({self._f: final})
        alive = _alive(self._elim)
        ranked = f"{self._f} IS NOT NULL" if alive is None else f"({alive} AND {self._f} IS NOT NULL)"
        keys = self.keys + ([self.rank_by] if self.rank_by else [])
        self._add({"_bes_rank": f"CASE WHEN {ranked} THEN CAST(rank() "
                                f"{self._over(alive, f'{self._f} DESC', keys)} AS BIGINT) END"})

    # --- output -----------------------------------------------------------

    def _outputs(self, include_details: bool) -> str:
        outputs: Dict[str, str] = {}
        if self.staged:
            cases = " ".join(f"WHEN {i} THEN {string(name)}"
                             for i, (name, _, _, _) in enumerate(self.stages))
            outputs[ELIM_COL] = (f"CASE {self._elim} {cases} END" if self._elim
                                 else "CAST(NULL AS STRING)")
        for i, (name, _, _, _) in enumerate(self.stages):
            if i in self.skipped:
                continue
            if include_details:
                outputs.update(self.details[i])
            if self.staged:
                outputs[f"{safe_name(name)}_score"] = f"_bes_{i}_s"
                outputs[f"{safe_name(name)}_ranking"] = f"_bes_{i}_r"
        outputs["final_score"] = self._f
        outputs["ranking"] = "_bes_rank"
        # an output named like an input column replaces it in place
        by_lower = {k.lower(): k for k in outputs}
        select, used = [], set()
        for c in self.columns:
            k = by_lower.get(c.lower())
            if k is not None and k not in used:
                used.add(k)
                select.append(f"{outputs[k]} AS {ident(k)}")
            else:
                select.append(ident(c))
        select += [f"{e} AS {ident(k)}" for k, e in outputs.items() if k not in used]
        return ", ".join(select)

    def result(self, include_details: bool = True) -> DataFrame:
        """The evaluation's output, sorted by the output contract."""
        keys = [f"{ident(k)} ASC" for k in self.keys]
        if self.staged:
            order = keys + ["`ranking` ASC NULLS LAST", "`final_score` DESC NULLS LAST"]
        elif keys or self.rank_by:
            order = keys + ["`ranking` ASC NULLS LAST"]
        else:
            # ranking ascending ≡ final_score descending, and the rank window
            # already delivers this order, so the sort is elided
            order = ["`final_score` DESC"]
        return self._run(self._outputs(include_details), f"ORDER BY {', '.join(order)}")

    def active_counts(self) -> List[int]:
        """Active rows per stage — one job over the lazy plan."""
        counts = ", ".join("count(1)" if e is None else f"count(CASE WHEN {e} IS NULL THEN 1 END)"
                           for e in self.elim_before)
        return list(self._run(counts).first())

    def statistics(self) -> List[Dict[str, Dict[str, Optional[float]]]]:
        """Per stage ``{column: stats}`` as reported by ``get_statistics()``:
        one job when first called; ``stats_mode`` chooses the bundle. Empty
        for batched plans, whose statistics are per batch."""
        if self._statistics is None:
            requests, where = [], []
            for i, (_, evaluator, _, _) in enumerate(self.stages):
                if i in self.skipped or self.keys:
                    continue
                for col, crit in evaluator.criteria.items():
                    keys = STAT_KEYS if self.stats_mode == "full" else crit.required_stat_keys
                    requests.append((ident(col), _alive(self.elim_before[i]), keys))
                    where.append((i, col))
            values = collect_stats(self._hidden(), requests, self.approx) if requests else []
            self._statistics = [{} for _ in self.stages]
            for (i, col), st in zip(where, values):
                self._statistics[i][col] = st
        return self._statistics

    def stage_frames(self, i: int, include_details: bool = True):
        """``(stage rows, advancing rows, rows this stage eliminated)``."""
        select = self._outputs(include_details)
        before, after = self.elim_before[i], self.elim_after[i]
        frame = self._run(select, f"WHERE {before} IS NULL" if before else "")
        if after == before:
            return frame, frame, self._run(select, "WHERE false")
        return (frame, self._run(select, f"WHERE {after} IS NULL"),
                self._run(select, f"WHERE {after} = {i}"))


def _sql(frame: DataFrame, query: Callable[[str], str]) -> DataFrame:
    """``spark.sql(query(view))`` over a temporary view of ``frame``."""
    spark = frame.sparkSession
    view = f"_bes_src_{uuid.uuid4().hex}"
    frame.createOrReplaceTempView(view)
    try:
        return spark.sql(query(view))
    finally:
        spark.catalog.dropTempView(view)


def _group_scorer(items, elim: Optional[str]):
    """The grouped Arrow step's function: scores each python criterion over
    one partition group's active rows, with statistics read from the
    group's window-statistic columns."""

    def score(table):
        n = table.num_rows
        active = (np.ones(n, dtype=bool) if elim is None
                  else table.column(elim).is_null().to_numpy(zero_copy_only=False))
        for out, col, stat_cols, crit in items:
            scores = np.full(n, np.nan)
            if active.any():
                first = int(np.argmax(active))
                stats = {}
                for k, (c, idx) in stat_cols.items():
                    v = table.column(c)[first].as_py()
                    stats[k] = v[idx] if idx is not None and v is not None else v
                values = table.column(col).to_pandas().astype("float64")[active]
                scores[active] = crit.python_score(values.reset_index(drop=True), stats)
            table = table.append_column(out, pa.array(scores, type=pa.float64(), mask=~active))
        return table

    return score
