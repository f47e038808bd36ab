"""Per-column statistics as SQL aggregates.

Reference semantics: ``bid_evaluation/criteria.py:19-29`` computes, per criterion
column, ``min, max, mean, median, std, q25, q75`` with pandas — i.e. *sample*
standard deviation (ddof=1), linearly-interpolated quantiles, NaN skipped.

Spark mapping (SURVEY §2.4-A1, §1.4-17):
- ``std``      → ``stddev_samp`` (ddof=1 parity),
- ``median``   → exact ``percentile(x, 0.5)`` (linear interpolation parity;
  deliberately NOT ``percentile_approx``),
- ``q25/q75``  → exact ``percentile(x, .25/.75)``, fused with the median into
  ONE ``percentile(x, array(.25, .5, .75))`` aggregate: each percentile
  buffers the whole column, so the three quantiles share one buffer;
- the input ``x`` is the value as a double with IEEE NaN mapped to null
  (:func:`stat_input`) — Spark's ``max``/``avg`` would otherwise return NaN
  where pandas skips it. This is the one place statistics inputs are formed.

Inside an evaluation these aggregates are window functions over the stage's
active rows, ``min(x) OVER (PARTITION BY keys)``, emitted by the plan builder
(:mod:`.pipeline`): nothing is collected. The plan hands each criterion the
whole bundle's references (:func:`stat_refs`) and emits the aggregates of
those its SQL text names. This module alone knows the bundle's keys, its
columns and the quantile packing; :func:`unpack` reads one row of them,
for ``get_statistics()`` (one job, when called), the query registry and the
plan's Python step.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from ..functions.sql import double, ident

#: the reference's full statistics bundle (``criteria.py:19-29``)
STAT_KEYS = ("min", "max", "mean", "median", "std", "q25", "q75")

_AGG = {"min": "min", "max": "max", "mean": "avg", "std": "stddev_samp"}

#: position of each quantile stat inside the fused ``q`` array
_Q_IDX = {"q25": 0, "median": 1, "q75": 2}


def stat_input(value_sql: str, active: Optional[str] = None) -> str:
    """Statistics input: the value as a double, null where it is NaN or the
    row is not ``active``."""
    x = double(value_sql)
    cond = f"NOT isnan({x})" if active is None else f"({active} AND NOT isnan({x}))"
    return f"CASE WHEN {cond} THEN {x} END"


def stat_aggregates(x: str, prefix: str, keys: Iterable[str] = STAT_KEYS) -> Dict[str, str]:
    """Aggregate SQL of input ``x`` for the stats in ``keys``, by column name:
    ``<prefix>_<stat>`` per min/max/mean/std, and ``<prefix>_q`` — the fused
    quantile array — when any quantile is requested."""
    keys = set(keys)
    out = {f"{prefix}_{k}": f"{agg}({x})" for k, agg in _AGG.items() if k in keys}
    if keys & _Q_IDX.keys():
        out[f"{prefix}_q"] = f"percentile({x}, array(0.25D, 0.5D, 0.75D))"
    return out


def stat_refs(prefix: str) -> Dict[str, str]:
    """SQL text of every stat of the bundle held in the
    :func:`stat_aggregates` columns of ``prefix``. Each is a name no other
    prefix's text contains, so the stats an expression reads are those whose
    reference its text contains."""
    return {k: f"{prefix}_q[{_Q_IDX[k]}]" if k in _Q_IDX else f"{prefix}_{k}"
            for k in STAT_KEYS}


def unpack(row: Mapping, prefix: str, keys: Iterable[str] = STAT_KEYS
           ) -> Dict[str, Optional[float]]:
    """The stats in ``keys`` from ``row``, a mapping of the
    :func:`stat_aggregates` columns of ``prefix`` to their values."""
    out: Dict[str, Optional[float]] = {}
    for k in STAT_KEYS:
        if k in _Q_IDX and k in keys:
            q = row[f"{prefix}_q"]
            out[k] = q[_Q_IDX[k]] if q is not None else None
        elif k in keys:
            out[k] = row[f"{prefix}_{k}"]
    return out


def collect_stats(df: DataFrame, requests: Sequence[Tuple[str, Optional[str], Iterable[str]]]
                  ) -> List[Dict[str, Optional[float]]]:
    """Statistics for each ``(value_sql, active_sql, keys)`` request in ONE
    job: a single global aggregate over ``df``, collected as one row."""
    aggs = [f"{agg} AS {c}" for i, (v, active, keys) in enumerate(requests)
            for c, agg in stat_aggregates(stat_input(v, active), f"_bes_{i}", keys).items()]
    row = df.selectExpr(*aggs).first() if aggs else {}
    return [unpack(row, f"_bes_{i}", set(keys)) for i, (_, _, keys) in enumerate(requests)]


def compute_stats(df: DataFrame, columns: Sequence[str]) -> Dict[str, Dict[str, Optional[float]]]:
    """The reference's statistics bundle for ``columns`` in ONE job:
    ``{column: {min,max,mean,median,std,q25,q75}}`` (floats, or None for
    empty/all-null input)."""
    uniq = list(dict.fromkeys(columns))
    return dict(zip(uniq, collect_stats(df, [(ident(c), None, STAT_KEYS) for c in uniq])))


def _bundle_select(columns: Iterable[str]) -> Tuple[List[str], List[str]]:
    """Aggregates for the full bundle of each column, and the select list
    flattening them to ``{col}__{stat}`` columns."""
    aggs, flat = [], []
    for i, c in enumerate(columns):
        p = f"_bes_{i}"
        aggs += [f"{agg} AS {n}" for n, agg in stat_aggregates(stat_input(ident(c)), p).items()]
        flat += [f"{ref} AS {ident(f'{c}__{k}')}" for k, ref in stat_refs(p).items()]
    return aggs, flat


def stats_bundle_df(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """One-row DataFrame with ``{col}__{stat}`` columns for each requested
    column — the DataFrame-returning twin of :func:`compute_stats`."""
    aggs, flat = _bundle_select(columns)
    return df.selectExpr(*aggs).selectExpr(*flat)


def grouped_stats_df(df: DataFrame, group_col: str, columns: Iterable[str]) -> DataFrame:
    """Per-group statistics bundle: one row per ``group_col`` value."""
    aggs, flat = _bundle_select(columns)
    return (df.groupBy(group_col).agg(*[F.expr(a) for a in aggs])
            .selectExpr(ident(group_col), *flat))
