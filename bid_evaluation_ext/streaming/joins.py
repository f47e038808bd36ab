"""Stream-stream joins: watermarked interval (time-bounded) equi-joins.

The Structured Streaming join model (SPARK-26154 design): both sides are
watermarked, the join condition carries BOTH an equality key and a time
range, and the state store keeps only rows younger than
``watermark + range`` — the range bound is what makes unbounded streams
joinable with bounded state. At 100-TB/day event volume the state per
executor is (rows within the range window for its key partitions), never
the stream history.

The same builder runs on batch frames unchanged (``withWatermark`` is a
no-op on batch), which is how the parity tests pin streaming semantics to
the batch result: one code path, two execution modes — the repo-wide
batch-twin pattern (see streaming/events.py, streaming/drift.py).

Inner joins emit matches as they arrive. ``how="leftOuter"`` additionally
emits left rows with null right payload once the watermark passes their
match window (so late output, exactly-once per row); outer results are
therefore only complete up to the watermark — the final rows of a
terminating stream flush only if a later event advances the watermark
past them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def interval_join(left: DataFrame, right: DataFrame, key: str = "user_id",
                  left_ts: str = "ts", right_ts: str = "ts",
                  lower_seconds: float = 0.0, upper_seconds: float = 600.0,
                  watermark: str = "10 minutes", how: str = "inner",
                  right_prefix: str = "r_") -> DataFrame:
    """Join each left row to right rows with the same ``key`` whose
    timestamp lies in ``[left_ts + lower_seconds, left_ts +
    upper_seconds]`` (inclusive; negative ``lower_seconds`` looks back).

    Right columns are prefixed with ``right_prefix`` to keep the output
    schema unambiguous. On streaming inputs both sides get ``watermark``;
    state eviction needs the time-range condition, so ``upper_seconds``
    must be finite. ``how`` is ``inner`` or ``leftOuter`` (outer needs
    the watermark to declare left rows unmatched).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be inner|leftOuter, got: {how}")
    if upper_seconds < lower_seconds:
        raise ValueError("upper_seconds < lower_seconds")

    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rw = rw.select([F.col(c).alias(f"{right_prefix}{c}")
                    for c in rw.columns])

    rk, rts = f"{right_prefix}{key}", f"{right_prefix}{right_ts}"
    cond = (
        (F.col(key) == F.col(rk))
        & (F.col(rts) >= F.col(left_ts)
           + F.expr(f"INTERVAL {float(lower_seconds)} SECONDS"))
        & (F.col(rts) <= F.col(left_ts)
           + F.expr(f"INTERVAL {float(upper_seconds)} SECONDS"))
    )
    return lw.join(rw, cond, how)
