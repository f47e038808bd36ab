"""MinHash-LSH parameter tuning — choosing (bands, rows) for a target
Jaccard threshold BEFORE burning a corpus pass on the wrong banding.

The S-curve of banded MinHash is ``P(match | sim s) = 1-(1-s^r)^b``.
The standard tuning criterion (Mining of Massive Datasets §3.4):
minimize the error area

    FP = ∫_0^t P(s) ds        (pairs below threshold that collide)
    FN = ∫_t^1 (1-P(s)) ds    (pairs above threshold that are missed)

over all (b, r) with ``b·r ≤ num_perm``, optionally weighting FP vs FN
(dedup pipelines usually over-weight FN — a missed duplicate poisons
training, a false candidate only costs one verify).

Everything here is a closed-form driver-side computation on a fixed
midpoint grid — deterministic, replayable in SQL, and the cost is
microseconds; it exists as an operator because the (b, r) choice is
part of the pipeline's correctness story, not a magic constant.
"""

from __future__ import annotations

from typing import List, Tuple

_GRID = 1000


def lsh_error_areas(b: int, r: int, threshold: float,
                    grid: int = _GRID) -> Tuple[float, float]:
    """(false_positive_area, false_negative_area) of the (b, r)
    S-curve against ``threshold``, midpoint rule on ``grid`` cells."""
    fp = fn = 0.0
    for i in range(grid):
        s = (i + 0.5) / grid
        p = 1.0 - (1.0 - s ** r) ** b
        if s < threshold:
            fp += p
        else:
            fn += 1.0 - p
    return fp / grid, fn / grid


def lsh_tune(num_perm: int, threshold: float, *, fn_weight: float = 1.0,
             grid: int = _GRID) -> dict:
    """Best (bands, rows) for ``threshold`` under ``b·r ≤ num_perm``.

    Returns ``{bands, rows, threshold_est, fp_area, fn_area,
    objective}`` where ``threshold_est = (1/b)^(1/r)`` is the S-curve
    midpoint and ``objective = fp + fn_weight·fn`` (rounded to 1e-6
    before the argmin so the choice is stable across float libms; ties
    break toward more bands = higher recall)."""
    if num_perm < 1 or not 0.0 < threshold < 1.0:
        raise ValueError("need num_perm >= 1 and 0 < threshold < 1")
    best = None
    for r in range(1, num_perm + 1):
        b = num_perm // r
        if b < 1:
            break
        fp, fn = lsh_error_areas(b, r, threshold, grid)
        obj = round(fp + fn_weight * fn, 6)
        key = (obj, -b, r)
        if best is None or key < best[0]:
            best = (key, {"bands": b, "rows": r,
                          "threshold_est": (1.0 / b) ** (1.0 / r),
                          "fp_area": fp, "fn_area": fn,
                          "objective": obj})
    return best[1]


def lsh_tuning_table(num_perm: int, thresholds: List[float],
                     *, fn_weight: float = 1.0) -> List[dict]:
    """One :func:`lsh_tune` row per threshold (the planning table a
    pipeline materializes next to its dedup config)."""
    return [{"threshold": t, **lsh_tune(num_perm, t,
                                        fn_weight=fn_weight)}
            for t in thresholds]
