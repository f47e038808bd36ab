"""One plan per evaluation, built from SQL text.

All four entry points — :meth:`Evaluator.evaluate` / ``evaluate_batched`` and
:meth:`StagedEvaluator.evaluate` / ``evaluate_batched`` — build their result
here, as one plan parameterised by partition keys: ``[]`` for one bid table,
``[batch_col]`` for many independent tenders at once. A plain ``Evaluator``
is a one-stage pipeline. A stage is four projections:

1. statistics as window aggregates over the stage's active rows,
   ``min(CASE WHEN <active> AND NOT isnan(v) THEN v END) OVER (PARTITION BY
   keys)`` (:mod:`.stats`): those a criterion's SQL text names, as each
   criterion's score is written against references to the whole bundle
   (python-scored criteria — custom functions, formulas outside the
   translatable grammar — get the whole bundle and then run in ONE grouped
   Arrow step over the keys, each group handing the function its active
   values and their statistics, a null one as NaN);
2. weighted criterion scores, masked to the active rows;
3. the stage score (NaN → null);
4. the stage rank ``_bes_<i>_r`` and the elimination state ``_bes_e<i>``:
   the index of the eliminating stage, null while a bid is alive — so
   stages chain windows, and survivor-only statistics are aggregates over
   the next stage's active rows. Every filter is one windowed predicate;
   ``top_n`` with ``on_tie="exclude"`` advances a bid when at most ``n``
   bids score at least as high. A bid whose predicate is null (a null stage
   score) is eliminated, as pandas' NaN comparisons are False.

The final score and ranking are the last stage's (it has no filter, so its
rank is the rank over the alive bids), unless stage scores are combined:
then the combination joins the last stage's projection and one more ranks
it. Then the sort. The plan is SQL text, analyzed by ``spark.sql`` over a temporary view
of the input: built from Column objects, every function call and operator is
a Python→JVM round trip (~1,800 per plain tender, ~3,800 per staged one),
while text costs one call. Names and numbers enter the text only through
:mod:`..functions.sql`. With keys ``[]`` the input is coalesced to one
partition, so every window shares it and the final sort needs no range
exchange. Nothing is persisted.

An evaluation is one text, analyzed once: the layers, every output column
(details included), for a staged plan the elimination index ``_bes_elim``
(the eliminating stage, null while a bid is alive), and the ``ORDER BY``.
Every result is derived from its output frame: :meth:`Plan.result` drops
the index, the columns of stages no bid reached and, without details, the
detail columns; :meth:`Plan.stage_frames` filters on the index;
:meth:`Plan.active_counts` and :meth:`Plan.statistics` aggregate over it,
stage ``i``'s active rows being ``_bes_elim IS NULL OR _bes_elim >= i``.

A staged single-table plan decides which stages ran (:meth:`Plan._skip`)
from its active rows per stage: stages with none are skipped, with the
reference's all-eliminated warning unless the input is empty. With every
stage skipped, the result is the input plus the three contract columns.

The two ways to run the text differ only in how the frame's rows are
delivered:

- **Interpreted, now** — a single-table evaluation whose input is a
  driver-local relation (``df.isLocal()``, e.g. ``createDataFrame(pandas)``)
  of at most :data:`LOCAL_ROWS` rows. Spark would generate and compile
  ~11–65 Java classes for such a tender, none reusable by the next one (its
  literals differ), which costs more than the tender's data. So the text
  runs in a clone of the caller's session (``cloneSession()``: its runtime
  confs, temporary views and functions) with code generation and adaptive
  execution off, over a view left in the clone (thrown away with the plan),
  as one SQL execution and one job (``collectAsList``) when the plan is
  built. Its rows, index included, never leave the JVM: they become a local
  relation in the caller's session, so every result is data, and its
  consumer's action runs no job. A staged plan counts its active rows per
  stage in the same job, as an observed metric. A python-scored criterion
  adds one view and one analysis: its grouped step reads the layers before
  it.
- **Compiled, lazy** — every other input (parquet, ``evaluate_batched``,
  larger local tables): the frame is lazy, and its consumer's action runs it
  as one job with whole-stage codegen. A staged single-table plan runs one
  eager job when it is built, :meth:`Plan.active_counts`. Views are dropped
  from the caller's session. Each frame derived from the lazy output frame
  runs the whole plan again when its consumer collects it.
"""

from __future__ import annotations

import uuid
import warnings
from typing import Any, Dict, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.sql import NULL_DOUBLE, double, ident, num, string
from .stats import STAT_KEYS, collect_stats, stat_aggregates, stat_input, stat_refs, unpack

ELIM_COL = "eliminated_at_stage"

#: Most rows of a driver-local input scored interpreted. Interpreted and
#: compiled plans reach parity near this size; above it, compiled is faster.
LOCAL_ROWS = 5_000

#: Session confs of the interpreted path: no Java generated or compiled, and
#: no adaptive execution (a local plan has no exchange to adapt)
_INTERPRETED = {"spark.sql.codegen.wholeStage": "false",
                "spark.sql.codegen.factoryMode": "NO_CODEGEN",
                "spark.sql.adaptive.enabled": "false"}

#: Hidden column of a staged plan's output frame: the eliminating stage's index
_ELIM_IDX = "_bes_elim"

#: Name of the observed metric holding a local staged plan's active rows per stage
_ACTIVE = "_bes_active"


def safe_name(name: str) -> str:
    """Stage name → column-name fragment (reference ``staged.py:455-457``)."""
    return name.lower().replace(" ", "_").replace("-", "_")


def _alive(elim: Optional[str]) -> Optional[str]:
    """Rows not eliminated under elimination column ``elim`` (None: all)."""
    return None if elim is None else f"({elim} IS NULL)"


def _active_at(i: int) -> str:
    """Rows of the output frame active at stage ``i``: not eliminated before it."""
    return f"({_ELIM_IDX} IS NULL OR {_ELIM_IDX} >= {i})"


def _stage_score(weighted: List[str], criteria: Dict[str, Any], normalize: bool) -> str:
    """A stage's score: the sum of its weighted criterion scores, divided by
    the criteria's total weight when ``normalize`` (0 unless that is positive)."""
    if not weighted:
        return "CAST(0 AS DOUBLE)"
    total = f"({' + '.join(weighted)})"
    if not normalize:
        return double(total)
    total_weight = sum(c.weight for c in criteria.values())
    return double(f"({total} / {num(total_weight)})") if total_weight > 0 else "CAST(0 AS DOUBLE)"


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
    return _rebind(qe.logical(), SparkSession(caller.sparkContext, jclone))


def _rebind(plan, session: SparkSession) -> DataFrame:
    """A frame of the JVM logical ``plan`` in ``session``."""
    dataset = getattr(session._jvm, "org.apache.spark.sql.classic.Dataset")
    return DataFrame(dataset.ofRows(session._jsparkSession, plan), session)


class Plan:
    """The plan of one evaluation.

    ``stages`` holds ``(name, criteria, filter, weight, normalize_weights)``
    per stage: the criteria map, not the evaluator, so an evaluator holding
    its last plan forms no reference cycle with it (the plan's Java objects
    are released with the evaluator, not by a later garbage collection). A
    criterion column missing from ``columns`` raises ``KeyError(column)``.
    ``staged`` selects the staged output contract
    (elimination column, per-stage score and ranking columns,
    ``final_mode``) over the plain one (``score_<name>`` columns,
    ``final_score``, ``ranking``);
    ``include_details`` keeps the per-criterion columns in :meth:`result`.
    A single-table plan over a small driver-local input is *local*: it runs
    interpreted in a clone of the caller's session, and its output frame is
    delivered as data when the plan is built (see the module docstring). A
    staged single-table plan sets :attr:`skipped` when it is built.
    """

    def __init__(self, df: DataFrame, columns: Sequence[str], keys: Sequence[str],
                 stages: Sequence[Tuple[str, Dict[str, Any], Any, float, bool]], *, staged: bool,
                 final_mode: str = "last_stage", include_details: bool = True,
                 stats_mode: str = "full"):
        missing = [c for _, criteria, _, _, _ in stages for c in criteria if c not in columns]
        if missing:  # the reference raises a plain KeyError at bids_df[column]
            raise KeyError(missing[0])
        self.columns = list(columns)
        self.keys = list(keys)
        self.stages = list(stages)
        self.staged = staged
        self.include_details = include_details
        self.stats_mode = stats_mode
        self.skipped: set = set()  # stages no bid reached (see :meth:`_skip`)
        # a local plan: the caller's session, and the active rows per stage
        # counted while delivering the output frame (see :meth:`_counts`)
        self._caller: Optional[SparkSession] = None
        self._counted: Optional[str] = None
        if not self.keys:
            interpreted = _interpreted(df)
            if interpreted is not None:
                self._caller, df = df.sparkSession, interpreted
        self._frame = df
        self._coalesce = not self.keys
        self._layers: List[List[str]] = []
        self._cols = list(self.columns)
        self._statistics: Optional[List[Dict[str, Dict]]] = None
        self._stat_keys: List[Dict[str, Tuple[str, ...]]] = []  # per stage: column → stats read
        self._elim: Optional[str] = None
        self.details: List[Dict[str, str]] = []  # output name → hidden column
        # the final score and ranking are the last stage's, unless stage
        # scores are combined
        last = len(self.stages) - 1
        self._f, self._rank = f"_bes_{last}_s", f"_bes_{last}_r"
        if staged and final_mode == "weighted_combination":
            self._f = "_bes_f"
        for i, stage in enumerate(self.stages):
            self._stage(i, *stage, last=i == last)
        if self._f == "_bes_f":
            alive = _alive(self._elim)
            ranked = "_bes_f IS NOT NULL" if alive is None else f"({alive} AND _bes_f IS NOT NULL)"
            self._rank = "_bes_rank"
            self._add({self._rank: f"CASE WHEN {ranked} THEN CAST(rank() "
                                   f"{self._over(alive, '_bes_f DESC')} AS BIGINT) END"})
        self._out = self._select(self._outputs(), f"ORDER BY {self._order()}")
        if self._caller is not None:
            self._out = self._deliver(self._out)
        if self.staged and not self.keys:
            self._skip()

    # --- SQL text ---------------------------------------------------------

    def _add(self, exprs: Dict[str, str]) -> None:
        """Append one projection layer, ``SELECT *, <expr> AS <name>, ...``."""
        if exprs:
            self._layers.append(["*"] + [f"{e} AS {n}" for n, e in exprs.items()])
            self._cols += list(exprs)

    def _over(self, extra: Optional[str] = None, order: Optional[str] = None) -> str:
        parts = [ident(k) for k in self.keys]
        if extra:
            parts.append(extra)
        spec = f"PARTITION BY {', '.join(parts)}" if parts else ""
        if order:
            spec += f" ORDER BY {order}"
        return f"OVER ({spec.strip()})"

    def _select(self, select: str, tail: str = "") -> DataFrame:
        """``SELECT <select> FROM <the layers so far> <tail>``, analyzed once
        by ``spark.sql`` over a temporary view of the current input. The view
        is dropped from the caller's session; a local plan's clone is thrown
        away with the plan, views and all."""
        spark = self._frame.sparkSession
        view = f"_bes_src_{uuid.uuid4().hex}"
        query = f"SELECT {'/*+ COALESCE(1) */ ' if self._coalesce else ''}* FROM {view}"
        for n, layer in enumerate(self._layers):
            query = f"SELECT {', '.join(layer)} FROM ({query}) AS _bes_q{n}"
        self._frame.createOrReplaceTempView(view)
        try:
            return spark.sql(f"SELECT {select} FROM ({query}) AS _bes_out {tail}")
        finally:
            if self._caller is None:
                spark.catalog.dropTempView(view)

    # --- stages -----------------------------------------------------------

    def _stage(self, i: int, name: str, criteria: Dict[str, Any], flt, weight: float,
               normalize: bool, last: bool) -> None:
        active = _alive(self._elim)
        crits = list(criteria.items())
        windows: Dict[str, str] = {}
        texts: List[str] = []  # each criterion's score: SQL text, or its Python step's column
        keys: Dict[str, Tuple[str, ...]] = {}
        python = []
        for j, (col, crit) in enumerate(crits):
            p = f"_bes_{i}_{j}"
            x = stat_input(ident(col), active)
            if crit.python_scored:
                texts.append(f"{p}_py")
                keys[col] = STAT_KEYS
                python.append((texts[-1], col, p, list(stat_aggregates(x, p)), crit))
            else:
                # the stats a criterion reads are those its text names
                refs = stat_refs(p)
                texts.append(crit.score_sql(ident(col), refs))
                keys[col] = tuple(k for k, ref in refs.items() if ref in texts[-1])
            for c, agg in stat_aggregates(x, p, keys[col]).items():
                windows[c] = f"{agg} {self._over()}"
        self._stat_keys.append(keys)
        self._add(windows)
        if python:
            self._python(python)

        prefix = f"{safe_name(name)}_" if self.staged else "score_"
        details: Dict[str, str] = {}
        scores: Dict[str, str] = {}
        for j, ((col, crit), score) in enumerate(zip(crits, texts)):
            w = crit.weighted_sql(score)
            scores[f"_bes_{i}_{j}_w"] = w if active is None else double(f"CASE WHEN {active} THEN {w} END")
            details[prefix + crit.name] = f"_bes_{i}_{j}_w"
        self._add(scores)
        self.details.append(details)

        s = f"_bes_{i}_s"
        total = _stage_score(list(details.values()), criteria, normalize)
        if active is not None:
            total = double(f"CASE WHEN {active} THEN {total} END")
        self._add({s: f"nanvl({total}, {NULL_DOUBLE})"})

        # stage rank and elimination, one projection: windows over the
        # active rows, ordered by score
        ordered = self._over(active, f"{s} DESC")
        layer = {f"_bes_{i}_r": f"CASE WHEN {s} IS NOT NULL THEN CAST(rank() {ordered} AS BIGINT) END"}
        flt = None if last else flt
        advances = None
        if flt is not None and flt.type == "score_threshold":
            advances = f"({s} >= {num(flt.threshold)})"
        elif flt is not None and flt.on_tie == "include":
            advances = f"({s} IS NOT NULL AND (rank() {ordered} <= {int(flt.top_n)}))"
        elif flt is not None:
            # on_tie="exclude": all advance when the population is <= n; else
            # a bid advances when the n-th score exists and at most n bids
            # score >= its own (the ordered window's frame includes ties)
            n = int(flt.top_n)
            everyone = self._over(active)
            advances = (f"CASE WHEN (count(1) {everyone} <= {n}) THEN true "
                        f"ELSE ((count({s}) {everyone} >= {n}) AND ({s} IS NOT NULL) "
                        f"AND (count(1) {ordered} <= {n})) END")
        if advances is not None:
            # a null predicate (null stage score) eliminates: pandas compares NaN as False
            advances = f"coalesce({advances}, false)"
            cond = f"(NOT {advances})" if active is None else f"({active} AND (NOT {advances}))"
            e = f"_bes_e{i + 1}"
            layer[e] = f"CASE WHEN {cond} THEN {i} ELSE {self._elim or 'CAST(NULL AS INT)'} END"
            self._elim = e
        if last and self._f == "_bes_f":
            layer["_bes_f"] = self._combined()
        self._add(layer)

    def _python(self, items) -> None:
        """Score python criteria in one grouped Arrow step over the keys.

        Columns travel under positional names (``applyInArrow`` cannot take
        every column name) and as Arrow data, so payload values — NaN
        included — pass through untouched."""
        pos = {c: f"_bes_p{k}" for k, c in enumerate(self._cols)}
        frame = self._select(", ".join(f"{ident(c)} AS {p}" for c, p in pos.items()))
        outs = [out for out, _, _, _, _ in items]
        schema = StructType(frame.schema.fields + [StructField(o, DoubleType()) for o in outs])
        scorer = _group_scorer([(out, pos[col], p, {c: pos[c] for c in cols}, crit)
                                for out, col, p, cols, crit in items], pos.get(self._elim))
        self._frame = frame.groupBy(*[pos[k] for k in self.keys]).applyInArrow(scorer, schema)
        self._coalesce = False
        self._layers = [[f"{p} AS {ident(c)}" for c, p in pos.items()] + outs]
        self._cols += outs

    def _combined(self) -> str:
        """The weighted combination of the stage scores (a stage score that
        is null counts as 0)."""
        total_weight = sum(w for _, _, _, w, _ in self.stages)
        if total_weight == 0:
            return NULL_DOUBLE
        final = "0.0D"
        for i, (_, _, _, w, _) in enumerate(self.stages):
            final = f"({final} + (coalesce(_bes_{i}_s, 0.0D) * {num(w / total_weight)}))"
        return f"nanvl({double(final)}, {NULL_DOUBLE})"

    # --- output -----------------------------------------------------------

    def _outputs(self) -> str:
        """The output frame's select list: the input columns (an output named
        like one replaces it in place), every output column, and the hidden
        columns no result shows — a staged plan's elimination index, and a
        copy of each criterion column an output replaced, for
        :meth:`statistics`. Records which output columns a result may drop."""
        outputs: Dict[str, str] = {}
        stage_of: Dict[str, Tuple[int, bool]] = {}  # output → (stage, is a detail)
        if self.staged:
            cases = " ".join(f"WHEN {i} THEN {string(name)}"
                             for i, (name, _, _, _, _) in enumerate(self.stages))
            outputs[ELIM_COL] = (f"CASE {self._elim} {cases} END" if self._elim
                                 else "CAST(NULL AS STRING)")
        inputs = {c.lower() for c in self.columns}
        for i, (name, _, _, _, _) in enumerate(self.stages):
            for out, col in self.details[i].items():
                # without details, an input column named like one stays as it is
                if self.include_details or out.lower() not in inputs:
                    outputs[out], stage_of[out] = col, (i, True)
            if self.staged:
                for out, col in ((f"{safe_name(name)}_score", f"_bes_{i}_s"),
                                 (f"{safe_name(name)}_ranking", f"_bes_{i}_r")):
                    outputs[out], stage_of[out] = col, (i, False)
        outputs["final_score"] = self._f
        outputs["ranking"] = self._rank
        by_lower = {k.lower(): k for k in outputs}
        criteria = {col for _, crits, _, _, _ in self.stages for col in crits}
        select, used = [], set()
        self._inputs: Dict[str, str] = {}  # replaced criterion column → its copy
        for c in self.columns:
            k = by_lower.get(c.lower())
            if k is not None and k not in used:
                used.add(k)
                select.append(f"{outputs[k]} AS {ident(k)}")
                if c in criteria:
                    self._inputs[c] = f"_bes_in{len(self._inputs)}"
            else:
                select.append(ident(c))
        select += [f"{e} AS {ident(k)}" for k, e in outputs.items() if k not in used]
        select += [f"{ident(c)} AS {n}" for c, n in self._inputs.items()]
        self._hidden = list(self._inputs.values())
        if self.staged:
            select.append(f"{self._elim or 'CAST(NULL AS INT)'} AS {_ELIM_IDX}")
            self._hidden.append(_ELIM_IDX)
        # an input column, like the contract's own columns, is in every result
        kept = used | {ELIM_COL, "final_score", "ranking"}
        self._droppable = {k: at for k, at in stage_of.items() if k not in kept}
        return ", ".join(select)

    def _order(self) -> str:
        keys = [f"{ident(k)} ASC" for k in self.keys]
        if self.staged:
            return ", ".join(keys + ["`ranking` ASC NULLS LAST", "`final_score` DESC NULLS LAST"])
        if keys:
            return ", ".join(keys + ["`ranking` ASC NULLS LAST"])
        # ranking ascending ≡ final_score descending, and the rank window
        # already delivers this order, so the sort is elided
        return "`final_score` DESC"

    def _counts(self) -> str:
        """Active rows per stage over the output frame, as one string."""
        counts = ", ".join(f"CAST(count(CASE WHEN {_active_at(i)} THEN 1 END) AS STRING)"
                           for i in range(len(self.stages)))
        return f"concat_ws(',', {counts})"

    def _deliver(self, frame: DataFrame) -> DataFrame:
        """A local plan's output frame as data in the caller's session: one
        interpreted job in the clone, whose rows stay in the JVM. A staged
        plan counts its active rows per stage in the same job, as an
        observed metric."""
        if self.staged:
            frame = frame.observe(_ACTIVE, F.expr(self._counts()))
        jdf = frame._jdf
        rows = self._caller._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
        if self.staged:
            self._counted = jdf.queryExecution().observedMetrics().get(_ACTIVE).get().getString(0)
        return DataFrame(rows, self._caller)

    def _skip(self) -> None:
        """Skip the stages no bid reached, from the active rows per stage.
        When bids were eliminated before a stage, warn as the reference does
        (``staged.py:300-307``, same text); an empty input skips every stage
        without a warning, as the reference returns early."""
        counts = self.active_counts()
        for (name, _, _, _, _), n_active in zip(self.stages, counts):
            if n_active == 0 and counts[0]:
                warnings.warn(
                    f"All bids were eliminated before stage '{name}'. "
                    f"Skipping this and subsequent stages."
                )
        self.skipped = {i for i, n in enumerate(counts) if n == 0}

    def _without(self, frame: DataFrame, details: bool) -> DataFrame:
        """``frame`` without the hidden columns, the columns of stages no bid
        reached and, unless ``details``, the detail columns."""
        names = self._hidden + [k for k, (i, detail) in self._droppable.items()
                                if i in self.skipped or (detail and not details)]
        return frame.drop(*names) if names else frame

    def result(self) -> DataFrame:
        """The evaluation's output, sorted by the output contract: lazy, or
        for a local plan data."""
        return self._without(self._out, self.include_details)

    def active_counts(self) -> List[int]:
        """Active rows per stage: counted while a local plan's rows were
        delivered, else by one job over the lazy output frame, on the first
        call (a staged single-table plan's constructor)."""
        if self._counted is None:
            self._counted = self._out.selectExpr(self._counts()).first()[0]
        return [int(n) for n in self._counted.split(",")]

    def statistics(self) -> List[Dict[str, Dict[str, Optional[float]]]]:
        """Per stage ``{column: stats}`` as reported by ``get_statistics()``:
        one job over the output frame, in the plan's session (a local plan's
        clone runs it interpreted), when first called; ``stats_mode`` chooses
        the full bundle or the statistics each criterion reads, as the plan
        derived them. Empty for batched plans, whose statistics are per batch."""
        if self._statistics is None:
            requests, where = [], []
            for i, (_, crits, _, _, _) in enumerate(self.stages):
                if i in self.skipped or self.keys:
                    continue
                for col in crits:
                    keys = STAT_KEYS if self.stats_mode == "full" else self._stat_keys[i][col]
                    requests.append((self._inputs.get(col, ident(col)),
                                     _active_at(i) if i else None, keys))
                    where.append((i, col))
            values = []
            if requests:
                out = self._out._jdf.queryExecution().analyzed()
                values = collect_stats(_rebind(out, self._frame.sparkSession), requests)
            self._statistics = [{} for _ in self.stages]
            for (i, col), st in zip(where, values):
                self._statistics[i][col] = st
        return self._statistics

    def stage_frames(self, i: int) -> Tuple[DataFrame, DataFrame, DataFrame]:
        """``(stage rows, advancing rows, rows this stage eliminated)``, with
        details: filters of the output frame on the elimination index."""
        e = _ELIM_IDX
        # the last stage and a stage without a filter eliminate no row: a
        # false filter lets the optimizer skip the job
        eliminates = self.stages[i][2] is not None and i < len(self.stages) - 1
        return tuple(self._without(self._out.where(cond), True)
                     for cond in (_active_at(i), f"{e} IS NULL OR {e} > {i}",
                                  f"{e} = {i}" if eliminates else "false"))


def _group_scorer(items, elim: Optional[str]):
    """The grouped Arrow step's function: scores each python criterion over
    one partition group's active rows, with the whole statistics bundle read
    from the group's window-statistic columns (null as NaN, as pandas
    computes it)."""

    def score(table):
        n = table.num_rows
        active = (np.ones(n, dtype=bool) if elim is None
                  else table.column(elim).is_null().to_numpy(zero_copy_only=False))
        for out, col, prefix, stat_cols, crit in items:
            scores = np.full(n, np.nan)
            if active.any():
                first = int(np.argmax(active))
                row = {c: table.column(p)[first].as_py() for c, p in stat_cols.items()}
                stats = {k: np.nan if v is None else v for k, v in unpack(row, prefix).items()}
                values = table.column(col).to_pandas().astype("float64")[active]
                scores[active] = crit.python_score(values.reset_index(drop=True), stats)
            table = table.append_column(out, pa.array(scores, type=pa.float64(), mask=~active))
        return table

    return score
