"""Multi-touch marketing attribution over an event stream.

Beyond-reference operator (no counterpart in ``/root/reference``): the
standard conversion-credit models — first-touch, last-touch, linear —
computed in ONE pass over the raw event log. A user's journey is the
run of touch events between consecutive conversions; each conversion
closes the journey immediately before it and distributes one unit of
credit over that journey's touches per model. Touches after the last
conversion (open journeys) earn nothing.

Scale shape: ONE window pass partitioned by user assigns every event its
journey number (running conversion count — the same gap-free segment
trick as sessionization) AND the user's total conversion count (full-
frame sum over the same partitioning, same exchange); a touch's journey
is closed iff ``journey < total`` — a pure predicate, so there is NO
closed-journey join and the raw log is scanned exactly once. A second
window over (user, journey) sizes and ranks the journey (different key →
one more exchange, inherent to the two-level grouping); the final rollup
is one small groupBy on the channel. Three exchanges total, no collect,
no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def attribute_conversions(df: DataFrame, user_col: str, ts_col: str,
                          type_col: str, conversion_type: str,
                          tiebreak_col: str) -> DataFrame:
    """Per-channel attribution → ``(channel, n_touches, credit_first,
    credit_last, credit_linear)`` over all CLOSED journeys.

    ``credit_*`` are sums over conversions of that model's per-touch
    share (each conversion distributes exactly 1.0), rounded to 4
    decimals; ``n_touches`` counts attributed touch events. Events order
    by ``(ts_col, tiebreak_col)`` — pass a unique tiebreak or the
    journey boundaries are nondeterministic. Conversion events are never
    channels; zero-touch journeys contribute nothing.
    """
    is_conv = (F.col(type_col) == conversion_type).cast("long")
    w_user = (Window.partitionBy(user_col)
              .orderBy(ts_col, tiebreak_col)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_utot = Window.partitionBy(user_col)
    # a touch's journey = conversions seen so far; a later conversion
    # exists (the journey is CLOSED) iff journey < the user's total —
    # a predicate, not a join. Both window sums share the hash(user)
    # exchange.
    ev = df.select(
        F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"), F.col(type_col).alias("_ch"),
        F.sum(is_conv).over(w_user).alias("_run"),
        F.sum(is_conv).over(w_utot).alias("_tot"),
        is_conv.alias("_is_conv"))
    touches = (ev.filter((F.col("_is_conv") == 0)
                         & (F.col("_run") < F.col("_tot")))
               .select("_u", "_ts", "_tb", "_ch",
                       F.col("_run").alias("_j")))

    w_j = Window.partitionBy("_u", "_j").orderBy("_ts", "_tb")
    w_jall = (Window.partitionBy("_u", "_j")
              .rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    sized = touches.select(
        "_u", "_j", "_ch",
        F.row_number().over(w_j).alias("_rn"),
        F.count(F.lit(1)).over(w_jall).alias("_k"))

    first = (F.col("_rn") == 1).cast("double")
    last = (F.col("_rn") == F.col("_k")).cast("double")
    linear = F.lit(1.0) / F.col("_k").cast("double")
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (sized.groupBy(F.col("_ch").alias("channel"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_touches"),
                 F.sum(first).alias("_cf"), F.sum(last).alias("_cl"),
                 F.sum(linear).alias("_cn"))
            .select("channel", "n_touches",
                    r4(F.col("_cf")).alias("credit_first"),
                    r4(F.col("_cl")).alias("credit_last"),
                    r4(F.col("_cn")).alias("credit_linear")))
