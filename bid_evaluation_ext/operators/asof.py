"""Temporal joins Spark's join vocabulary lacks: as-of and range (interval).

``asof_join(left, right)`` attaches to every left row the latest right row of
the same key with ``right.ts <= left.ts`` (or strictly ``<`` with
``allow_exact=False``) — the time-series enrichment join (trades→quotes,
events→latest-state).

Spark-first design: NOT an inequality join (a theta join over (key, ts ranges)
explodes into a per-key cross product at scale). Instead both sides are
unioned, tagged, and sorted once per key — ``last(right_payload_struct,
ignorenulls)`` over ``(key) ORDER BY (ts, tag) ROWS UNBOUNDED PRECEDING``
carries the most recent right row forward onto the left rows. The payload
travels as ONE struct (not per-column fills) so every attached column comes
from the same matched right row even when that row has null fields. Cost: ONE
shuffle of (left + right) on the key, the same partitioning a windowed
aggregation would need anyway; no skew amplification (a hot key costs its own
row count, not a product).

DuckDB expresses the same operator natively (``ASOF JOIN``), which is the
oracle for the driver query ``asof_click_purchase_events``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: str = "user_id", right_cols: Optional[Sequence[str]] = None,
              suffix: str = "_right", allow_exact: bool = True,
              direction: str = "backward",
              tolerance: Optional[float] = None) -> DataFrame:
    """Left as-of join: all left rows + the matching right row's columns.

    Args:
        on: ordering (timestamp) column, present in both frames.
        by: equality key, present in both frames.
        right_cols: right payload columns to attach (default: all but on/by);
            each lands as ``{col}{suffix}``, plus ``{on}{suffix}`` with the
            matched right row's timestamp (null where no match).
        allow_exact: match right rows at exactly ``left.ts`` or only strictly
            earlier/later.
        direction: which right row matches (pandas ``merge_asof`` parity):
            ``backward`` — latest right with ``r.ts <= l.ts``;
            ``forward`` — earliest right with ``r.ts >= l.ts``;
            ``nearest`` — whichever of the two is closer in ``on`` (ties
            prefer the backward match).
        tolerance: maximum |l.on − r.on| (seconds for timestamps, plain
            difference for numerics); farther matches null out the payload,
            exactly as if no right row existed.

    Null ``by`` keys group together here (window partitioning), whereas a SQL
    ASOF equality join would drop them — pre-filter nulls for SQL parity.

    Still ONE shuffle of (left + right) on the key for every direction;
    ``nearest`` adds a second window *sort* over the same partitioning (the
    exchange is reused), not a second shuffle.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}")
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"tolerance must be non-negative, got {tolerance}")
    rcols = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in (on, by)
    ]
    lcols = [c for c in left.columns if c not in (on, by)]
    ltypes = dict((f.name, f.dataType) for f in left.schema.fields)

    # The whole right payload rides in ONE struct so that every attached
    # column comes from the same matched right row (per-column
    # last(ignorenulls) would back-fill a null field from an older row).
    payload_fields = rcols + [on]
    pay_struct = F.struct(*[F.col(c).alias(c) for c in payload_fields])
    pay_type = right.select(pay_struct.alias("_p")).schema["_p"].dataType

    # Tag orderings resolve equal-ts left/right placement per direction:
    # a window scanning PRECEDING must see equal-ts rights iff allow_exact
    # (rights sort before lefts), one scanning FOLLOWING must see them iff
    # allow_exact (rights sort after lefts). `nearest` needs both, as two
    # sort keys over the same partitioning.
    r_tag_back = 0 if allow_exact else 2
    r_tag_fwd = 2 if allow_exact else 0
    lsel = left.select(
        F.col(by), F.col(on), F.lit(1).alias("_tag_b"),
        F.lit(1).alias("_tag_f"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(pay_type).alias("_asof_pay"),
    )
    rsel = right.select(
        F.col(by), F.col(on), F.lit(r_tag_back).alias("_tag_b"),
        F.lit(r_tag_fwd).alias("_tag_f"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lcols],
        pay_struct.alias("_asof_pay"),
    )
    u = lsel.unionByName(rsel)

    def _back():
        w = (Window.partitionBy(by).orderBy(F.col(on), F.col("_tag_b"))
             .rowsBetween(Window.unboundedPreceding, 0))
        return F.last("_asof_pay", ignorenulls=True).over(w)

    def _fwd():
        w = (Window.partitionBy(by).orderBy(F.col(on), F.col("_tag_f"))
             .rowsBetween(0, Window.unboundedFollowing))
        return F.first("_asof_pay", ignorenulls=True).over(w)

    if direction == "backward":
        matched = _back()
    elif direction == "forward":
        matched = _fwd()
    else:
        b, f = _back(), _fwd()
        d_b = F.col(on).cast("double") - b[on].cast("double")
        d_f = f[on].cast("double") - F.col(on).cast("double")
        matched = F.when(f.isNull(), b).when(b.isNull(), f).otherwise(
            F.when(d_b <= d_f, b).otherwise(f))

    if tolerance is not None:
        delta = F.abs(F.col(on).cast("double") - matched[on].cast("double"))
        matched = F.when(delta <= F.lit(float(tolerance)), matched)

    filled = [matched[c].alias(f"{c}{suffix}") for c in payload_fields]
    return (
        u.select(by, on, "_tag_b", *lcols, *filled)
        .filter(F.col("_tag_b") == 1)
        .drop("_tag_b")
    )


def range_join(points: DataFrame, intervals: DataFrame, point_col: str = "ts",
               start_col: str = "session_start", end_col: str = "session_end",
               by: Optional[Sequence[str]] = None,
               bucket_width: float = 3600.0,
               closed: str = "both") -> DataFrame:
    """Point-in-interval join without the cross-product blowup.

    A naive ``points JOIN intervals ON p BETWEEN start AND end`` is a theta
    join — Spark executes it as BroadcastNestedLoop/cartesian, O(P·I). Here
    both sides are bucketed on ``floor(value / bucket_width)``: each interval
    explodes to one row per covered bucket, each point lands in exactly one
    bucket, and the join becomes an equi-join on (bucket [, by...]) with the
    range predicate as a cheap post-filter. Each matching (point, interval)
    pair meets in exactly one bucket — no duplicate elimination needed.

    Cost scales with interval length / bucket_width: pick ``bucket_width``
    near the median interval length (a giant interval explodes into many
    bucket rows — that is the operator's skew knob, and AQE handles residual
    bucket skew).

    ``closed``: 'both' ([start, end]), 'left' ([start, end)), 'right'
    ((start, end]), 'neither'. Timestamp columns bucket by epoch seconds;
    plain numerics bucket by value.
    """
    if closed not in ("both", "left", "right", "neither"):
        raise ValueError(f"closed must be both|left|right|neither: {closed}")
    by = list(by or [])

    def _b(col):
        return F.floor(col.cast("double") / F.lit(float(bucket_width)))

    pt = points.withColumn("_rb", _b(F.col(point_col)))
    iv = intervals.withColumn(
        "_rb", F.explode(F.sequence(_b(F.col(start_col)), _b(F.col(end_col))))
    )
    p = F.col(point_col)
    lo = (p >= F.col(start_col)) if closed in ("both", "left") else (p > F.col(start_col))
    hi = (p <= F.col(end_col)) if closed in ("both", "right") else (p < F.col(end_col))
    joined = pt.join(iv, on=["_rb"] + by, how="inner").filter(lo & hi)
    return joined.drop("_rb")
