"""Incremental view maintenance: delta propagation for joins.

Beyond-reference operator (classic IVM algebra, e.g. Gupta & Mumick's
survey): when insert batches ``Δa`` / ``Δb`` arrive, the increment of a
materialized inner join is

    Δ(a ⋈ b) = Δa ⋈ b  ∪all  a ⋈ Δb  ∪all  Δa ⋈ Δb

so a 100-TB materialized join refreshes by joining the (small) deltas
against the base sides — never re-running the full join. All three
terms key on the join columns; the delta sides are small by contract,
so AQE broadcasts them and the base tables are probed without being
shuffled (with bucketed bases, even the probe is exchange-free —
see ``sources/io.py`` bucketed CDC). Union is bag semantics (UNION
ALL): inner-join increments are multisets by algebra.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import DataFrame


def join_insert_delta(a: DataFrame, delta_a: DataFrame, b: DataFrame,
                      delta_b: DataFrame,
                      on: Union[str, Sequence[str]]) -> DataFrame:
    """Rows ADDED to ``a ⋈ b`` (inner, equi-join on ``on``) by insert
    batches ``delta_a`` / ``delta_b``:
    ``Δa ⋈ b ∪all a ⋈ Δb ∪all Δa ⋈ Δb``.

    Exactness (the differential test's contract):
    ``(a ∪all Δa) ⋈ (b ∪all Δb)  ==  (a ⋈ b) ∪all this`` as multisets.
    Column layout follows Spark's equi-join convention (join keys once,
    then a's columns, then b's).
    """
    keys = [on] if isinstance(on, str) else list(on)
    full_delta = (delta_a.join(b, keys)
                  .unionByName(a.join(delta_b, keys))
                  .unionByName(delta_a.join(delta_b, keys)))
    return full_delta


def refresh_join(materialized: DataFrame, a: DataFrame, delta_a: DataFrame,
                 b: DataFrame, delta_b: DataFrame,
                 on: Union[str, Sequence[str]]) -> DataFrame:
    """The refreshed materialized inner join:
    ``materialized ∪all join_insert_delta(...)`` — what a foreachBatch
    maintainer appends each micro-batch instead of recomputing
    ``(a+Δa) ⋈ (b+Δb)`` from scratch."""
    return materialized.unionByName(
        join_insert_delta(a, delta_a, b, delta_b, on))
