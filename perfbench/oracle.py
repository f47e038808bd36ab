"""Pandas/numpy oracle for the criterion, plain and staged semantics.

The benchmark checks every operation's output against this module. It is a
second, independent implementation of the reference semantics the engine
claims (reference ``bid_evaluation``): sample standard deviation (ddof=1),
linearly interpolated quantiles, ``rank(method="min")`` over descending final
scores, survivor-only stage statistics and the ``top_n`` tie truth table.

A criterion is described by a plain dict ``spec``::

    {"kind": "linear", "column": "price", "weight": 2.0, "params": {...}}

and the same spec drives both the engine's fluent builder (see
``workloads.add_criterion``) and :func:`criterion_score` here.

Arithmetic is written in the same operation order as the engine's Column
expressions, so criteria that read only exact statistics (min/max) or none at
all give bit-identical scores. That matters for ``top_n`` stages, whose
elimination decisions depend on exact score ties.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd


def custom_quality_curve(values: pd.Series, stats: Dict) -> pd.Series:
    """The benchmark's Python ``CustomCriterion`` function: a convex curve
    over the min-max normalised value. It runs as a pandas UDF in the engine
    and as plain pandas here."""
    span = stats["max"] - stats["min"]
    return 100.0 * ((values - stats["min"]) / span) ** 2


def column_stats(values: np.ndarray) -> Dict[str, Optional[float]]:
    """The reference's seven-statistic bundle over ``values``."""
    s = pd.Series(values, dtype="float64")
    if s.empty:
        return {k: None for k in ("min", "max", "mean", "median", "std", "q25", "q75")}
    std = s.std()  # ddof=1; NaN for a single value (Spark: null)
    return {
        "min": float(s.min()), "max": float(s.max()), "mean": float(s.mean()),
        "median": float(s.median()),
        "std": None if np.isnan(std) else float(std),
        "q25": float(s.quantile(0.25)), "q75": float(s.quantile(0.75)),
    }


def _clip100(x: np.ndarray) -> np.ndarray:
    return np.minimum(np.maximum(x, 0.0), 100.0)


def _formula(formula: str, v: np.ndarray, st: Dict) -> np.ndarray:
    mn, mx = np.float64(st["min"]), np.float64(st["max"])
    table = {
        "(value - min) / (max - min) * 100": lambda: (v - mn) / (mx - mn) * 100.0,
        "(max - value) / (max - min) * 100": lambda: (mx - v) / (mx - mn) * 100.0,
        "value / max * 100": lambda: v / mx * 100.0,
        "min / value * 100": lambda: mn / v * 100.0,
        "sqrt(value) / sqrt(max) * 100": lambda: np.sqrt(v) / np.sqrt(mx) * 100.0,
        "clip(value * 10, 0, 100)": lambda: np.maximum(0.0, np.minimum(100.0, v * 10.0)),
    }
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = table[formula]()
    # errors/NaN → 0.0, then the [0, 100] clip (inf → 100, -inf → 0)
    return _clip100(np.where(np.isnan(raw), 0.0, raw))


def _template(name: str, v: np.ndarray, st: Dict, params: Dict) -> np.ndarray:
    if name == "budget_proximity":
        t = float(params["target"])
        return _clip100((1.0 - np.abs(v - t) / t) * 100.0)
    if name == "sweet_spot_range":
        lo, hi = float(params["min_ideal"]), float(params["max_ideal"])
        below = _clip100(100.0 - (lo - v) / lo * 100.0)
        above = _clip100(100.0 - (v - hi) / hi * 100.0)
        return np.where(v < lo, below, np.where(v > hi, above, 100.0))
    if name == "penalty_function":
        base, t, p = (float(params["base_score"]), float(params["threshold"]),
                      float(params["penalty_per_unit"]))
        return _clip100(np.where(v > t, base - (v - t) * p, base))
    if name == "bonus_tiers":
        return _clip100(50.0 + np.where(v >= 5.0, 20.0, 0.0)
                        + np.where(v >= 10.0, 30.0, 0.0))
    if name == "percentage_of_best":
        if params.get("higher_is_better", True):
            return _clip100(v / st["max"] * 100.0)
        return _clip100(st["min"] / v * 100.0)
    if name == "distance_from_mean":
        std = st["std"]
        if std is None or std == 0.0:
            return np.full(len(v), 100.0)
        z = (v - st["mean"]) / std
        sign = 1.0 if params.get("prefer_above", True) else -1.0
        return _clip100((sign * z + 3.0) / 6.0 * 100.0)
    raise KeyError(name)


def _builtin(name: str, v: np.ndarray, st: Dict) -> np.ndarray:
    if name == "proximity_to_mean":
        m = st["mean"]
        return np.maximum(100.0 - np.abs((v - m) / m) * 100.0, 0.0)
    if name == "proximity_to_median":
        m = st["median"]
        return np.maximum(100.0 - np.abs((v - m) / m) * 100.0, 0.0)
    if name == "log_scale":
        return np.log(v + 1.0) / np.log(st["max"] + 1.0) * 100.0
    if name == "inverse_squared":
        return (st["min"] / v) ** 2.0 * 100.0
    raise KeyError(name)


def criterion_score(spec: Dict, v: np.ndarray, st: Dict) -> np.ndarray:
    """Unweighted score of one criterion over ``v`` with statistics ``st``."""
    kind, p = spec["kind"], spec.get("params", {})
    if kind == "linear":
        lo, hi = st["min"], st["max"]
        if hi == lo:
            return np.full(len(v), 100.0)
        if p.get("higher_is_better", True):
            return (v - lo) / (hi - lo) * 100.0
        return (hi - v) / (hi - lo) * 100.0
    if kind == "threshold":
        out = np.zeros(len(v))
        for lower, upper, band in p["thresholds"]:  # later bands win
            out = np.where((v >= lower) & (v < upper), float(band), out)
        return out
    if kind == "direct":
        scale = float(p.get("input_scale", 100))
        return v * (100.0 / scale) if scale != 100.0 else v
    if kind == "min_ratio":
        return st["min"] / v * 100.0
    if kind == "formula":
        return _formula(p["formula"], v, st)
    if kind == "template":
        tparams = {k: x for k, x in p.items() if k != "template"}
        return _template(p["template"], v, st, tparams)
    if kind == "builtin":
        return _builtin(p["func"], v, st)
    if kind == "custom":
        return pd.Series(custom_quality_curve(pd.Series(v), st)).to_numpy(dtype=float)
    raise KeyError(kind)


def _weighted_final(pdf: pd.DataFrame, specs: Sequence[Dict],
                    mask: Optional[np.ndarray] = None) -> np.ndarray:
    """Weight-normalised final score of ``specs`` (statistics over ``mask``)."""
    n = len(pdf)
    total = None
    for spec in specs:
        v = pdf[spec["column"]].to_numpy(dtype=np.float64)
        st = column_stats(v if mask is None else v[mask])
        with np.errstate(divide="ignore", invalid="ignore"):
            w = criterion_score(spec, v, st) * float(spec["weight"])
        total = w if total is None else total + w
    if total is None:
        return np.zeros(n)
    total_weight = sum(float(s["weight"]) for s in specs)
    return total / total_weight if total_weight > 0 else np.zeros(n)


def rank_desc_min(scores: np.ndarray) -> np.ndarray:
    """``rank(ascending=False, method="min")`` as integers."""
    return pd.Series(scores).rank(ascending=False, method="min").to_numpy(dtype=np.int64)


def plain_final_scores(pdf: pd.DataFrame, specs: Sequence[Dict]) -> np.ndarray:
    """Final scores of a plain ``Evaluator`` over every row of ``pdf``."""
    return _weighted_final(pdf, specs)


def _advances(scores: np.ndarray, flt: Dict) -> np.ndarray:
    """Which of the (active) ``scores`` pass one stage filter."""
    if flt["type"] == "score_threshold":
        return scores >= float(flt["threshold"])
    n = int(flt["top_n"])
    if flt.get("on_tie", "include") == "include":
        return rank_desc_min(scores) <= n
    total = len(scores)
    if total <= n:
        return np.ones(total, dtype=bool)
    cutoff = np.sort(scores)[::-1][n - 1]
    if int((scores >= cutoff).sum()) > n:
        return scores > cutoff
    return scores >= cutoff


def staged_result(pdf: pd.DataFrame, stages: Sequence[Dict],
                  final_mode: str) -> Dict[str, np.ndarray]:
    """Staged evaluation over ``pdf``.

    ``stages`` is a list of ``{"name", "weight", "filter" (dict or None),
    "criteria" (list of specs)}``. Returns per-row ``eliminated`` (stage name
    or None), ``final_score`` (NaN where null) and ``ranking`` (0 where null).
    """
    n = len(pdf)
    eliminated: List[Optional[str]] = [None] * n
    active = np.ones(n, dtype=bool)
    stage_scores: Dict[str, np.ndarray] = {}
    for i, stage in enumerate(stages):
        if not active.any():
            continue  # all eliminated: this and later stages are skipped
        score = np.full(n, np.nan)
        score[active] = _weighted_final(pdf, stage["criteria"], active)[active]
        stage_scores[stage["name"]] = score
        flt = stage.get("filter")
        if i < len(stages) - 1 and flt is not None:
            idx = np.flatnonzero(active)
            adv = _advances(score[idx], flt)
            for j in idx[~adv]:
                eliminated[j] = stage["name"]
            active[idx[~adv]] = False

    if final_mode == "last_stage":
        final = stage_scores.get(stages[-1]["name"], np.full(n, np.nan))
    else:
        total_weight = sum(float(s["weight"]) for s in stages)
        if total_weight == 0 or not stage_scores:
            final = np.full(n, np.nan)
        else:
            final = np.zeros(n)
            for s in stages:
                if s["name"] in stage_scores:
                    final = final + (np.nan_to_num(stage_scores[s["name"]], nan=0.0)
                                     * (float(s["weight"]) / total_weight))
    ranking = np.zeros(n, dtype=np.int64)
    alive = np.array([e is None for e in eliminated])
    if alive.any():
        ranking[alive] = rank_desc_min(final[alive])
    return {"eliminated": np.array(eliminated, dtype=object),
            "final_score": final, "ranking": ranking}


def close(a: Optional[float], b: Optional[float], tol: float = 1e-6) -> bool:
    """Scores agree: both null/NaN, or equal within ``tol`` (relative above 1)."""
    a_null = a is None or (isinstance(a, float) and np.isnan(a))
    b_null = b is None or (isinstance(b, float) and np.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def check_ranked_rows(rows: Sequence[Dict], pdf: pd.DataFrame, expected: Dict,
                      id_col: str, ordered: bool = True) -> Optional[str]:
    """Compare engine output rows with the oracle; ``None`` when they agree.

    Checks, per bid: presence, elimination stage, final score (tolerance),
    and that ``ranking`` is ``rank(method="min")`` of the engine's own final
    scores over non-eliminated bids; with ``ordered``, also that rows come
    ordered by ranking (nulls last).
    """
    ids = pdf[id_col].to_numpy()
    if len(rows) != len(ids):
        return f"row count {len(rows)} != {len(ids)}"
    by_id = {r[id_col]: r for r in rows}
    if len(by_id) != len(ids) or any(i not in by_id for i in ids):
        return "bid ids differ"
    elim = expected.get("eliminated")
    for j, bid in enumerate(ids):
        r = by_id[bid]
        if elim is not None and r.get("eliminated_at_stage") != elim[j]:
            return f"bid {bid}: eliminated_at_stage {r.get('eliminated_at_stage')!r} != {elim[j]!r}"
        if not close(r["final_score"], float(expected["final_score"][j])):
            return f"bid {bid}: final_score {r['final_score']} != {expected['final_score'][j]}"
    alive = [r for r in rows if r.get("eliminated_at_stage") is None]
    if alive:
        want = rank_desc_min(np.array([r["final_score"] for r in alive], dtype=float))
        for r, w in zip(alive, want):
            if r["ranking"] != w:
                return f"bid {r[id_col]}: ranking {r['ranking']} != {w}"
    if any(r["ranking"] is not None for r in rows if r.get("eliminated_at_stage") is not None):
        return "eliminated bid has a ranking"
    if not ordered:
        return None
    order = [r["ranking"] for r in rows]
    ranked = [x for x in order if x is not None]
    if ranked != sorted(ranked) or order[:len(ranked)] != ranked:
        return "rows not ordered by ranking"
    return None
