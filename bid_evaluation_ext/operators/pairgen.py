"""Vectorized within-group pair generation for the local pair kernels.

``item_item_cosine`` (recs) and ``link_prediction`` (graph) both reduce
to: group a small incidence table by container/user, emit every
within-group item pair, and aggregate per pair. Their distributed
engines do this with a self-equi-join on the group key — two shuffles
of the incidence plus the pair exchange. Below a collected-size cap the
whole thing fits one numpy pass (guide §4.2 / §2.3: the quadratic step
is bounded by the hub cap, so the pair count is linear in rows); this
module is the shared index arithmetic both kernels run on the collected
arrays.

All functions take rows ALREADY SORTED by group id and use closed-form
index math (no per-group Python loop): a group of size ``c``
contributes ``c²`` ordered pairs addressed ``0..c²-1``; dividing the
within-group pair index by ``c`` gives the left row, the remainder the
right row.
"""

from __future__ import annotations

import numpy as np


def half_up4(x: np.ndarray) -> np.ndarray:
    """Vectorized ``round(x * 1e4)/1e4`` with Spark/DuckDB HALF_UP
    semantics on non-negative doubles (``np.round`` is half-EVEN; the
    frac>=0.5 comparison is exact for x*1e4 < 2^52)."""
    v = x * 1e4
    fl = np.floor(v)
    return np.where(v - fl >= 0.5, fl + 1.0, fl) / 1e4


def group_pair_indices(counts: np.ndarray
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Row-index arrays ``(left, right, group)`` for every ordered
    within-group pair INCLUDING self-pairs, for groups laid out
    contiguously with sizes ``counts`` (callers mask self-pairs /
    orientation as their semantics require).

    Output length is ``Σ counts²`` — callers bound it with their hub
    cap before collecting.
    """
    counts = np.asarray(counts, dtype=np.int64)
    c2 = counts * counts
    total = int(c2.sum())
    if total == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    gid = np.repeat(np.arange(len(counts), dtype=np.int64), c2)
    pair_offsets = np.repeat(np.cumsum(c2) - c2, c2)
    local = np.arange(total, dtype=np.int64) - pair_offsets
    crep = counts[gid]
    starts = np.repeat(np.cumsum(counts) - counts, c2)
    left = starts + local // crep
    right = starts + local % crep
    return left, right, gid


def shifted_group_pairs(group_codes_sorted: np.ndarray
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Unordered within-group row-index pairs ``(i, j)`` with ``i < j``
    (row order), for rows sorted by group, via shifted equality masks:
    shift ``s`` pairs every row with the row ``s`` below it when both
    share a group.  A group of size ``c`` matches shifts ``1..c-1``, so
    the loop self-terminates at the LARGEST actual group — each shift is
    one O(rows) mask, which beats materializing the ``Σc²`` closed form
    by ~5x when groups are small (hub-capped incidences).  Callers
    should prefer :func:`group_pair_indices` when the max group size is
    large (> ~64): there the closed form does less total work."""
    n = len(group_codes_sorted)
    out_l: list = []
    out_r: list = []
    s = 1
    while s < n:
        m = group_codes_sorted[:-s] == group_codes_sorted[s:]
        i = np.flatnonzero(m)
        if len(i) == 0:
            break
        out_l.append(i)
        out_r.append(i + s)
        s += 1
    if not out_l:
        z = np.zeros(0, dtype=np.int64)
        return z, z.copy()
    return np.concatenate(out_l), np.concatenate(out_r)
