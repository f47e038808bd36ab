"""One plan per evaluation, built from SQL text.

All four entry points — :meth:`Evaluator.evaluate` / ``evaluate_batched`` and
:meth:`StagedEvaluator.evaluate` / ``evaluate_batched`` — build their result
here, as one plan parameterised by partition keys: ``[]`` for one bid table,
``[batch_col]`` for many independent tenders at once. A plain ``Evaluator``
is a one-stage pipeline. Per stage the plan computes:

1. statistics as window aggregates over the stage's active rows,
   ``min(CASE WHEN <active> AND NOT isnan(v) THEN v END) OVER (PARTITION BY
   keys)`` (:mod:`.stats`) — Catalyst prunes any statistic nothing reads;
2. python-scored criteria (custom functions, formulas outside the
   translatable grammar) in ONE grouped Arrow step over the keys, each group
   handing the function its active values and their statistics;
3. weighted criterion scores, masked to the active rows;
4. the stage score (NaN → null), the stage rank and the ``top_n`` helpers;
5. the elimination state ``_bes_e<i>``: the index of the eliminating stage,
   null while a bid is alive — so stages chain windows, and survivor-only
   statistics are aggregates over the next stage's active rows. A bid whose
   filter predicate is null (a null stage score) is eliminated, as pandas'
   NaN comparisons are False.

Then the final score, the rank over the alive bids with a score, and the
sort. The plan is SQL text, analyzed by ``spark.sql`` over a temporary view
of the input: built from Column objects, every function call and operator is
a Python→JVM round trip (~1,800 per plain tender, ~3,800 per staged one),
while text costs one call. Names and numbers enter the text only through
:mod:`..functions.sql`. With keys ``[]`` the input is coalesced to one
partition, so every window shares it and the final sort needs no range
exchange. Nothing is persisted.

The same text runs one of two ways:

- **Interpreted, now** — a single-table evaluation whose input is a
  driver-local relation (``df.isLocal()``, e.g. ``createDataFrame(pandas)``)
  of at most :data:`LOCAL_ROWS` rows. Spark would generate and compile
  ~11–65 Java classes for such a tender, none reusable by the next one (its
  literals differ), which costs more than the tender's data. So the plan runs
  in a clone of the caller's session (``cloneSession()``: its runtime confs,
  temporary views and functions) with code generation and adaptive execution
  off. The whole text — layers, output select and ``ORDER BY`` — is one
  ``spark.sql`` call over one view of the input (the view is left in the
  clone, which is thrown away with the plan), so it is analyzed once and
  runs as one SQL execution and one job (``collectAsList``). Its rows, which
  never leave the JVM, become a local relation in the caller's session:
  :meth:`Plan.result` returns data, and the consumer's action runs no job.
  A staged evaluation counts its active rows per stage (the all-eliminated
  warning) in the same job, as an observed metric over a hidden elimination
  index column that the JVM drops before the rows are delivered. A
  python-scored criterion adds one view and one analysis: its grouped step
  reads the layers before it.
- **Compiled, lazy** — every other input (parquet, ``evaluate_batched``,
  larger local tables): :meth:`Plan.result` is a lazy frame, whose
  consumer's action runs the plan as one job with whole-stage codegen. A
  staged single-table evaluation runs one eager job first,
  :meth:`Plan.active_counts`. The layers are analyzed once into a plan that
  every result shares; views are dropped from the caller's session.
"""

from __future__ import annotations

import uuid
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.sql import NULL_DOUBLE, double, ident, num, string
from .stats import STAT_KEYS, _Q_IDX, collect_stats, stat_aggregates, stat_input, stat_refs

ELIM_COL = "eliminated_at_stage"

#: Most rows of a driver-local input scored interpreted. Interpreted and
#: compiled plans reach parity near this size; above it, compiled is faster.
LOCAL_ROWS = 5_000

#: Session confs of the interpreted path: no Java generated or compiled, and
#: no adaptive execution (a local plan has no exchange to adapt)
_INTERPRETED = {"spark.sql.codegen.wholeStage": "false",
                "spark.sql.codegen.factoryMode": "NO_CODEGEN",
                "spark.sql.adaptive.enabled": "false"}

#: Hidden column of a local staged plan's rows: the eliminating stage's index
_ELIM_IDX = "_bes_elim"

#: Name of the observed metric holding a local staged plan's active rows per stage
_ACTIVE = "_bes_active"


def safe_name(name: str) -> str:
    """Stage name → column-name fragment (reference ``staged.py:455-457``)."""
    return name.lower().replace(" ", "_").replace("-", "_")


def _alive(elim: Optional[str]) -> Optional[str]:
    """Rows not eliminated under elimination column ``elim`` (None: all)."""
    return None if elim is None else f"({elim} IS NULL)"


def _interpreted(df: DataFrame) -> Optional[DataFrame]:
    """``df`` in a clone of its session that runs without code generation,
    when ``df`` is a driver-local relation of at most :data:`LOCAL_ROWS` rows;
    else None. The row count is read from the relation, without a job."""
    if not df.isLocal():
        return None
    qe = df._jdf.queryExecution()
    rows = qe.analyzed().maxRows()
    if not rows.isDefined() or rows.get() > LOCAL_ROWS:
        return None
    caller = df.sparkSession
    # a private JVM API (pinned by a test): copies runtime confs, temp views
    # and functions, so the clone sees what the caller sees
    jclone = caller._jsparkSession.cloneSession()
    conf = jclone.conf()
    for key, value in _INTERPRETED.items():
        conf.set(key, value)
    clone = SparkSession(caller.sparkContext, jclone)
    dataset = getattr(caller._jvm, "org.apache.spark.sql.classic.Dataset")
    return DataFrame(dataset.ofRows(jclone, qe.logical()), clone)


class Plan:
    """The plan of one evaluation.

    ``stages`` holds ``(name, evaluator, filter, weight)`` per stage;
    ``staged`` selects the staged output contract (elimination column,
    per-stage score and ranking columns, ``final_mode``) over the plain one
    (``score_<name>`` columns, ``final_score``, ``ranking``). A single-table
    plan over a small driver-local input is *local*: it runs interpreted in a
    clone of the caller's session, and its outputs are delivered now (see
    the module docstring).
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
        # a local plan: the caller's session, the (select, rows) it delivered
        # and the active rows per stage counted while delivering them
        self._caller: Optional[SparkSession] = None
        self._delivered: Optional[Tuple[List[Tuple[str, str]], DataFrame]] = None
        self._active: Optional[List[int]] = None
        if not self.keys:
            interpreted = _interpreted(df)
            if interpreted is not None:
                self._caller, df = df.sparkSession, interpreted
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

    def _chain(self, view: str) -> str:
        """The layers so far over ``view``, a view of the current input."""
        query = f"SELECT {'/*+ COALESCE(1) */ ' if self._coalesce else ''}* FROM {view}"
        for n, layer in enumerate(self._layers):
            query = f"SELECT {', '.join(layer)} FROM ({query}) AS _bes_q{n}"
        return query

    def _sql(self, frame: DataFrame, query: Callable[[str], str]) -> DataFrame:
        """``spark.sql(query(view))`` over a temporary view of ``frame``. The
        view is dropped from the caller's session; a local plan's clone is
        thrown away with the plan, views and all."""
        spark = frame.sparkSession
        view = f"_bes_src_{uuid.uuid4().hex}"
        frame.createOrReplaceTempView(view)
        try:
            return spark.sql(query(view))
        finally:
            if self._caller is None:
                spark.catalog.dropTempView(view)

    def _hidden(self) -> DataFrame:
        """The plan so far, hidden columns included, analyzed once."""
        if self._hidden_df is None:
            self._hidden_df = self._sql(self._frame, self._chain)
        return self._hidden_df

    def _run(self, select: str, tail: str = "") -> DataFrame:
        """``SELECT <select> FROM <the plan so far> <tail>``. A local plan
        analyzes this whole text once; a lazy plan's results share the
        analyzed :meth:`_hidden` plan."""
        if self._caller is not None:
            return self._sql(self._frame, lambda view: (
                f"SELECT {select} FROM ({self._chain(view)}) AS _bes_out {tail}"))
        return self._sql(self._hidden(), lambda view: f"SELECT {select} FROM {view} {tail}")

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
            advances = f"({s} IS NOT NULL AND (rank() {ordered} <= {int(flt.top_n)}))"
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
            # a null predicate (null stage score) eliminates: pandas compares NaN as False
            advances = f"coalesce({advances}, false)"
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

    def _outputs(self, include_details: bool) -> List[Tuple[str, str]]:
        """The output columns as ``(name, select item)`` pairs."""
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
                select.append((k, f"{outputs[k]} AS {ident(k)}"))
            else:
                select.append((c, ident(c)))
        select += [(k, f"{e} AS {ident(k)}") for k, e in outputs.items() if k not in used]
        return select

    def _order(self) -> str:
        keys = [f"{ident(k)} ASC" for k in self.keys]
        if self.staged:
            return ", ".join(keys + ["`ranking` ASC NULLS LAST", "`final_score` DESC NULLS LAST"])
        if keys or self.rank_by:
            return ", ".join(keys + ["`ranking` ASC NULLS LAST"])
        # ranking ascending ≡ final_score descending, and the rank window
        # already delivers this order, so the sort is elided
        return "`final_score` DESC"

    def _local(self, outputs: List[Tuple[str, str]], hidden: bool = False) -> DataFrame:
        """A local plan's sorted rows with the columns ``outputs`` (and, if
        ``hidden``, the elimination index), as a local frame in the caller's
        session: one interpreted job, whose rows stay in the JVM, unless the
        rows last delivered already hold every such column. A staged plan
        counts its active rows per stage in the same job, as an observed
        metric over the elimination index, which the JVM then drops unless
        ``hidden``."""
        index = (_ELIM_IDX, f"{self._elim or 'CAST(NULL AS INT)'} AS {_ELIM_IDX}")
        select = outputs + [index] if hidden else outputs
        if self._delivered is None or not set(select) <= set(self._delivered[0]):
            order = f"ORDER BY {self._order()}"
            if self.staged:
                counts = ", ".join(f"CAST(count(CASE WHEN {_ELIM_IDX} IS NULL OR {_ELIM_IDX} >= {i} "
                                   f"THEN 1 END) AS STRING)" for i in range(len(self.stages)))
                jdf = (self._run(_items(outputs + [index]), order)
                       .observe(_ACTIVE, F.expr(f"concat_ws(',', {counts})"))._jdf)
                if not hidden:
                    jdf = jdf.drop(_ELIM_IDX)
            else:
                jdf = self._run(_items(outputs), order)._jdf
            rows = self._caller._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
            if self.staged:
                counted = jdf.queryExecution().observedMetrics().get(_ACTIVE).get().getString(0)
                self._active = [int(n) for n in counted.split(",")]
            self._delivered = (select, DataFrame(rows, self._caller))
        delivered, rows = self._delivered
        if delivered == select:
            return rows
        return rows.select(*[ident(name) for name, _ in select])

    def result(self, include_details: bool = True) -> DataFrame:
        """The evaluation's output, sorted by the output contract: lazy, or
        for a local plan scored now."""
        outputs = self._outputs(include_details)
        if self._caller is None:
            return self._run(_items(outputs), f"ORDER BY {self._order()}")
        return self._local(outputs)

    def active_counts(self, include_details: bool = True) -> List[int]:
        """Active rows per stage. A local plan counts them in the job that
        delivers the rows of :meth:`result` (the same ``include_details``),
        so the evaluation stays one job; otherwise one job over the lazy
        plan."""
        if self._caller is not None:
            self._local(self._outputs(include_details))
            return self._active
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
        """``(stage rows, advancing rows, rows this stage eliminated)``: lazy,
        or for a local plan filters of rows delivered with the elimination
        index (one more interpreted job, the first time)."""
        outputs = self._outputs(include_details)
        if self._caller is not None:
            rows, e, names = self._local(outputs, hidden=True), _ELIM_IDX, [ident(n) for n, _ in outputs]
            return tuple(rows.where(cond).select(*names) for cond in
                         (f"{e} IS NULL OR {e} >= {i}", f"{e} IS NULL OR {e} > {i}", f"{e} = {i}"))
        select = _items(outputs)
        before, after = self.elim_before[i], self.elim_after[i]
        frame = self._run(select, f"WHERE {before} IS NULL" if before else "")
        if after == before:
            return frame, frame, self._run(select, "WHERE false")
        return (frame, self._run(select, f"WHERE {after} IS NULL"),
                self._run(select, f"WHERE {after} = {i}"))


def _items(outputs: List[Tuple[str, str]]) -> str:
    return ", ".join(item for _, item in outputs)


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
