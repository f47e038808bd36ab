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
(:mod:`.pipeline`): nothing is collected, and Catalyst prunes any statistic
that no expression reads. The eager helpers below serve
``get_statistics()`` (one job, when called) and the query registry.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from ..functions.sql import double, ident

STAT_KEYS = ("min", "max", "mean", "median", "std", "q25", "q75")

_AGG = {"min": "min", "max": "max", "mean": "avg", "std": "stddev_samp"}

#: position of each quantile stat inside the fused ``q`` array
_Q_IDX = {"q25": 0, "median": 1, "q75": 2}

#: accuracy for approximate percentiles (~1/accuracy relative rank error);
#: 10000 ⇒ ≤0.01% rank error with a few KB of sketch state per column
APPROX_PERCENTILE_ACCURACY = 10000


def stat_input(value_sql: str, active: Optional[str] = None) -> str:
    """Statistics input: the value as a double, null where it is NaN or the
    row is not ``active``."""
    x = double(value_sql)
    cond = f"NOT isnan({x})" if active is None else f"({active} AND NOT isnan({x}))"
    return f"CASE WHEN {cond} THEN {x} END"


def stat_aggregates(x: str, keys: Iterable[str], approx: bool = False) -> Dict[str, str]:
    """Aggregate SQL for the requested stat ``keys`` of input ``x``: one entry
    per min/max/mean/std key, plus ``"q"`` — the fused quantile array — when
    any quantile is requested. With ``approx``, quantiles use
    ``percentile_approx`` (O(1) sketch state instead of buffering every
    value; documented divergence, min/max/mean/std stay exact)."""
    keys = set(keys)
    out = {k: f"{agg}({x})" for k, agg in _AGG.items() if k in keys}
    if keys & _Q_IDX.keys():
        qs = "array(0.25D, 0.5D, 0.75D)"
        out["q"] = (f"percentile_approx({x}, {qs}, {APPROX_PERCENTILE_ACCURACY})"
                    if approx else f"percentile({x}, {qs})")
    return out


def stat_refs(cols: Mapping[str, str], keys: Iterable[str]) -> Dict[str, str]:
    """SQL text of each stat in ``keys``, given the columns ``cols`` holding
    :func:`stat_aggregates` results (quantiles index the ``q`` array)."""
    return {k: f"{cols['q']}[{_Q_IDX[k]}]" if k in _Q_IDX else cols[k]
            for k in STAT_KEYS if k in set(keys)}


def _unpack(row: Mapping, cols: Mapping[str, str], keys) -> Dict[str, Optional[float]]:
    out: Dict[str, Optional[float]] = {}
    for k in STAT_KEYS:
        if k not in keys:
            continue
        if k in _Q_IDX:
            q = row[cols["q"]]
            out[k] = q[_Q_IDX[k]] if q is not None else None
        else:
            out[k] = row[cols[k]]
    return out


def collect_stats(df: DataFrame, requests: Sequence[Tuple[str, Optional[str], Iterable[str]]],
                  approx: bool = False) -> List[Dict[str, Optional[float]]]:
    """Statistics for each ``(value_sql, active_sql, keys)`` request in ONE
    job: a single global aggregate over ``df``, collected as one row."""
    aggs: List[str] = []
    names: List[Dict[str, str]] = []
    for i, (v, active, keys) in enumerate(requests):
        cols = {}
        for k, agg in stat_aggregates(stat_input(v, active), keys, approx).items():
            cols[k] = f"_bes_{i}_{k}"
            aggs.append(f"{agg} AS {cols[k]}")
        names.append(cols)
    row = df.selectExpr(*aggs).first() if aggs else {}
    return [_unpack(row, cols, set(keys)) for cols, (_, _, keys) in zip(names, requests)]


def compute_stats(
    df: DataFrame,
    columns: Sequence[str],
    *,
    keys_by_column: Optional[Mapping[str, Iterable[str]]] = None,
    approx_percentiles: bool = False,
) -> Dict[str, Dict[str, Optional[float]]]:
    """The reference's statistics bundle for ``columns`` in ONE job.

    Returns ``{column: {min,max,mean,median,std,q25,q75}}`` (floats or None for
    empty/all-null input). ``keys_by_column`` limits the stats per column
    (columns may map to an empty set — they then cost nothing); omitted
    columns get the full bundle.
    """
    uniq = list(dict.fromkeys(columns))
    keysets = [STAT_KEYS if keys_by_column is None else tuple(keys_by_column.get(c, STAT_KEYS))
               for c in uniq]
    stats = collect_stats(df, [(ident(c), None, ks) for c, ks in zip(uniq, keysets)],
                          approx_percentiles)
    return dict(zip(uniq, stats))


def _bundle_select(columns: Iterable[str]) -> Tuple[List[str], List[str]]:
    """Aggregates for the full bundle of each column, and the select list
    flattening them to ``{col}__{stat}`` columns."""
    aggs, flat = [], []
    for i, c in enumerate(columns):
        cols = {}
        for k, agg in stat_aggregates(stat_input(ident(c)), STAT_KEYS).items():
            cols[k] = f"_bes_{i}_{k}"
            aggs.append(f"{agg} AS {cols[k]}")
        flat += [f"{ref} AS {ident(f'{c}__{k}')}" for k, ref in stat_refs(cols, STAT_KEYS).items()]
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
