"""Fused per-column statistics aggregation.

Reference semantics: ``bid_evaluation/criteria.py:19-29`` computes, per criterion
column, ``min, max, mean, median, std, q25, q75`` with pandas — i.e. *sample*
standard deviation (ddof=1) and linearly-interpolated quantiles.

Spark mapping (SURVEY §2.4-A1, §1.4-17):
- ``std``      → ``stddev_samp`` (ddof=1 parity),
- ``median``   → exact ``percentile(col, 0.5)`` (linear interpolation parity;
  deliberately NOT ``percentile_approx``),
- ``q25/q75``  → exact ``percentile(col, .25/.75)``.

Where the reference runs one full pandas pass per criterion (even when two
criteria read the same column), this engine batches every requested column's
seven statistics into ONE ``df.agg(...)`` job and collects a single row.
Collected values are then inlined as literals into the scoring Column
expressions (SURVEY §4.2: collect-to-literals keeps the whole post-agg scoring
pipeline inside one whole-stage-codegen span; cost is one driver round-trip per
evaluation, not per criterion).

At scale: the agg is a partial (map-side combined) aggregation over a columnar
scan that prunes to exactly the requested columns — O(|columns|) state per
task, no shuffle of row data, a single 1-row exchange.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

STAT_KEYS = ("min", "max", "mean", "median", "std", "q25", "q75")


def _stat_exprs(col: Column, prefix: str) -> List[Column]:
    """The seven reference statistics for one column, plus nothing else.

    The three exact percentiles are computed as ONE ``percentile(c,
    array(.25,.5,.75))`` aggregate: each percentile agg buffers the full
    column, so fusing them shares one buffer instead of three (measured 3×
    on the stats job at sf0.1). The array is unpacked by ``_unpack_stat_row``
    / :func:`_unpack_select` after the agg.
    """
    c = col.cast("double")
    return [
        F.min(c).alias(f"{prefix}__min"),
        F.max(c).alias(f"{prefix}__max"),
        F.avg(c).alias(f"{prefix}__mean"),
        F.stddev_samp(c).alias(f"{prefix}__std"),
        F.percentile(
            c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias(f"{prefix}__q"),
    ]


#: position of each quantile stat inside the fused ``__q`` array
_Q_IDX = {"q25": 0, "median": 1, "q75": 2}


def _unpack_stat_row(row: Mapping, prefix: str,
                     keys=frozenset(STAT_KEYS)) -> Dict[str, Optional[float]]:
    """Stats dict for one column from a collected fused-agg row."""
    out: Dict[str, Optional[float]] = {}
    quantiles = keys & _Q_IDX.keys()
    q = row[f"{prefix}__q"] if quantiles else None
    for k in STAT_KEYS:
        if k not in keys:
            continue
        if k in _Q_IDX:
            out[k] = q[_Q_IDX[k]] if q is not None else None
        else:
            out[k] = row[f"{prefix}__{k}"]
    return out


def _unpack_select(prefix: str) -> List[Column]:
    """Select-list exprs flattening one column's fused stats to scalars."""
    exprs = [F.col(f"{prefix}__{k}") for k in ("min", "max", "mean")]
    exprs.append(F.col(f"{prefix}__q")[1].alias(f"{prefix}__median"))
    exprs.append(F.col(f"{prefix}__std"))
    exprs.append(F.col(f"{prefix}__q")[0].alias(f"{prefix}__q25"))
    exprs.append(F.col(f"{prefix}__q")[2].alias(f"{prefix}__q75"))
    return exprs


#: accuracy for approximate percentiles (~1/accuracy relative rank error);
#: 10000 ⇒ ≤0.01% rank error with a few KB of sketch state per column
APPROX_PERCENTILE_ACCURACY = 10000


def _partial_stat_exprs(col: Column, prefix: str, keys,
                        approx: bool = False) -> List[Column]:
    """Aggregation exprs for just the requested stat keys of one column.

    Any requested quantile still lands in one fused ``percentile(c, array)``
    (the buffer dominates, extra quantiles inside one agg are marginal).
    With ``approx``, quantiles use ``percentile_approx`` instead — O(1)
    sketch state per column instead of buffering every value, the 100-TB
    path (documented divergence from the reference's pandas-exact
    quantiles; min/max/mean/std stay exact either way).
    """
    c = col.cast("double")
    exprs: List[Column] = []
    for k, fn in (("min", F.min), ("max", F.max), ("mean", F.avg),
                  ("std", F.stddev_samp)):
        if k in keys:
            exprs.append(fn(c).alias(f"{prefix}__{k}"))
    if keys & {"q25", "median", "q75"}:
        qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        q = (
            F.percentile_approx(c, qs, F.lit(APPROX_PERCENTILE_ACCURACY))
            if approx else F.percentile(c, qs)
        )
        exprs.append(q.cast("array<double>").alias(f"{prefix}__q"))
    return exprs


def compute_stats(
    df: DataFrame,
    columns: Sequence[str],
    *,
    with_count: bool = False,
    keys_by_column: Optional[Mapping[str, Iterable[str]]] = None,
    approx_percentiles: bool = False,
) -> Dict[str, Dict[str, Optional[float]]]:
    """Compute the reference's statistics bundle for ``columns`` in ONE job.

    Returns ``{column: {min,max,mean,median,std,q25,q75}}`` (floats or None for
    empty/all-null input). When ``with_count`` is set, the returned dict has an
    extra ``"__count__"`` entry holding the row count (used by the staged
    pipeline to detect an empty survivor set without an extra job).

    ``keys_by_column`` is the ``stats_mode="required"`` scale path: only the
    listed stat keys are aggregated per column (columns may map to an empty
    set — they then cost nothing); omitted columns get the full bundle. With
    no keys requested anywhere (and no count), no job runs at all.
    """
    uniq = list(dict.fromkeys(columns))  # preserve order, drop dups
    keysets = {
        c: (set(STAT_KEYS) if keys_by_column is None
            else set(keys_by_column.get(c, STAT_KEYS)))
        for c in uniq
    }
    aggs: List[Column] = []
    for i, c in enumerate(uniq):
        aggs.extend(_partial_stat_exprs(F.col(c), f"c{i}", keysets[c],
                                        approx=approx_percentiles))
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("__count__"))
    if not aggs:
        out0: Dict[str, Dict[str, Optional[float]]] = {c: {} for c in uniq}
        if with_count:
            out0["__count__"] = df.count()
        return out0

    row = df.agg(*aggs).first().asDict()
    out: Dict[str, Dict[str, Optional[float]]] = {}
    for i, c in enumerate(uniq):
        out[c] = _unpack_stat_row(row, f"c{i}", keysets[c])
    if with_count:
        out["__count__"] = row["__count__"]
    return out


def stats_bundle_df(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """One-row DataFrame with ``{col}_{stat}`` columns for each requested column.

    The DataFrame-returning twin of :func:`compute_stats` — used when statistics
    should stay distributed (e.g. to ``crossJoin(broadcast(...))`` instead of a
    driver collect, or to expose the A1 stats bundle as a query).
    """
    cols = list(columns)
    aggs: List[Column] = []
    for c in cols:
        aggs.extend(_stat_exprs(F.col(c), c))
    flat: List[Column] = []
    for c in cols:
        flat.extend(_unpack_select(c))
    return df.agg(*aggs).select(*flat)


def grouped_stats_df(df: DataFrame, group_col: str, columns: Iterable[str]) -> DataFrame:
    """Per-group statistics bundle: one row per ``group_col`` value.

    The scale path for evaluating many independent tenders/batches in one job
    (SURVEY §2.5 note): instead of collect-to-literals per batch, compute all
    batches' stats in one shuffle and broadcast-join them back.
    """
    cols = list(columns)
    aggs: List[Column] = []
    for c in cols:
        aggs.extend(_stat_exprs(F.col(c), c))
    flat: List[Column] = [F.col(group_col)]
    for c in cols:
        flat.extend(_unpack_select(c))
    return df.groupBy(group_col).agg(*aggs).select(*flat)


def stats_row_to_nested(row: Mapping[str, Optional[float]], columns: Iterable[str]) -> Dict[str, Dict[str, Optional[float]]]:
    """Reshape a flat ``{col}_{stat}`` mapping into ``{col: {stat: value}}``."""
    return {c: {k: row[f"{c}__{k}"] for k in STAT_KEYS} for c in columns}
