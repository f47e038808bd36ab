"""Skew-resilient shuffles: two-phase salted groupBy and salted join.

MEASURED CAVEAT (r6, local[32], 4.8M rows, 95 % of them on one key): for
the ALGEBRAIC aggregates exposed here, a plain ``groupBy(key)`` is already
skew-immune — Spark's map-side partial aggregation collapses the hot key to
ONE partial row per map task before the exchange, and the plain plan beat
:func:`salted_agg` 0.41 s vs 0.63 s (the salt costs a second shuffle).
Keep ``salted_agg`` for paths where partial aggregation is ineffective or
disabled — per-group state that grows with rows (collect_list-style,
exact-distinct with a huge per-key value set) or engines without map-side
combine — not as a default for count/sum/min/max/avg.

Where key skew DOES hurt Spark natively is the shuffle JOIN: every probe
row of a hot key hashes to one reducer, partial aggregation cannot help,
and a 1000-executor job waits on that one task. :func:`salted_join`
implements the classic rescue — salt the big (probe) side, explode the
small (build) side ``salt_buckets``×, join on ``(key, salt)`` — for when
AQE's runtime skew-split is unavailable (disabled, streaming micro-batch,
or a deliberately-pinned plan) or the small side is too big to broadcast
but fine to replicate B×. Row-for-row identical to the plain inner join.

Phase-2 of ``salted_agg`` must re-aggregate partial states, so only
algebraic aggregates are exposed: count, sum, min, max, avg (as
sum+count). Differential tests and driver queries assert identical results
with the plain plans.
"""

from __future__ import annotations

from typing import Mapping, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

#: aggregate spec: {output_name: (agg_kind, input_column)}
AggSpec = Mapping[str, Tuple[str, str]]

_PHASE1 = {
    "count": lambda c: F.count(F.lit(1)),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}
_PHASE2 = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}


def salted_agg(df: DataFrame, keys: Sequence[str], aggs: AggSpec,
               salt_buckets: int = 16) -> DataFrame:
    """Two-phase salted aggregation, result-identical to
    ``df.groupBy(*keys).agg(...)`` for the supported aggregate kinds.

    ``aggs`` maps output column name → ``(kind, column)`` with kind in
    ``count | sum | min | max | avg``. ``count`` is a row count (its column
    operand is ignored, like ``COUNT(*)``); ``avg`` skips nulls (like
    ``AVG(col)``).
    """
    for name, (kind, _) in aggs.items():
        if kind not in ("count", "sum", "min", "max", "avg"):
            raise ValueError(f"unsupported aggregate kind for {name!r}: {kind}")

    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )

    p1, p2, final = [], [], []
    for name, (kind, col) in aggs.items():
        if kind == "avg":  # algebraic: carry (sum, count) through the phases
            p1.append(F.sum(col).alias(f"{name}__s"))
            p1.append(F.count(col).alias(f"{name}__c"))
            p2.append(F.sum(f"{name}__s").alias(f"{name}__s"))
            p2.append(F.sum(f"{name}__c").alias(f"{name}__c"))
            final.append(
                F.try_divide(F.col(f"{name}__s"), F.col(f"{name}__c")).alias(name)
            )
        else:
            p1.append(_PHASE1[kind](col).alias(name))
            p2.append(_PHASE2[kind](name).alias(name))
            final.append(F.col(name))

    partial = salted.groupBy(*keys, "_salt").agg(*p1)
    merged = partial.groupBy(*keys).agg(*p2)
    return merged.select(*[F.col(k) for k in keys], *final)


def salted_join(big: DataFrame, small: DataFrame, keys: Sequence[str],
                salt_buckets: int = 16, how: str = "inner") -> DataFrame:
    """Skew-rescued equi-join, row-identical to ``big.join(small, keys,
    how)`` for ``how`` in ``inner | left``.

    The big (probe) side draws a uniform salt in ``[0, salt_buckets)``;
    the small (build) side is exploded ``salt_buckets``× with every salt
    value; the join runs on ``keys + [salt]``. A hot key's probe rows now
    hash across ``salt_buckets`` reducers instead of one, at the cost of
    replicating the build side B× through the shuffle — the right trade
    when the build side is orders of magnitude smaller (dimension-sized
    but above the broadcast threshold) and AQE's runtime skew-split is
    unavailable. Null join keys behave exactly as in the plain join
    (never match; preserved by ``left``).

    Columns duplicated between the two inputs follow the same resolution
    rules as the plain ``join(..., on=keys)``: join keys merge, other
    collisions raise upstream — pre-select to avoid them, exactly as you
    would without salt.
    """
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner or left, got {how!r}")
    keys = list(keys)
    salted_big = big.withColumn(
        "_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    exploded_small = small.withColumn(
        "_salt", F.explode(F.sequence(
            F.lit(0), F.lit(int(salt_buckets) - 1))))
    joined = salted_big.join(exploded_small, keys + ["_salt"], how)
    return joined.drop("_salt")
