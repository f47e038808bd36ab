"""Streaming out-of-orderness monitor — the LIVE twin of
``operators.timeseries.event_disorder``.

Batch granularity by design: within one micro-batch events are
concurrent (no arrival order exists), so each event's lateness is
measured against the PRE-BATCH per-key event-time high-water mark; the
mark then advances to the batch max. Concatenated per-batch emissions
therefore equal the batch profiler run with ``arrival = batch index``
(parity-tested) — coarser than the row-level offline profile, exactly
right for deciding "is my configured watermark delay still enough"
while the stream runs.

State is the per-key high-water mark only — one double per key, held
driver-side IN THE MONITOR OBJECT, i.e. single-process and
session-scoped. Replays of batches the object has already seen are
idempotent for the mark (monotone max), but a query RESTART from the
checkpoint resumes at the next batch WITHOUT replaying earlier ones —
a fresh monitor then measures lateness against empty marks and
under-reports until the marks warm back up. To survive restarts,
persist ``hwm`` through the ``on_emit`` sink (each emission row
carries the post-batch mark) and rebuild via
``DisorderMonitor(..., initial_hwm=saved)`` — or use
``stateful.streaming_disorder_by_key``, whose marks live in the state
store under the checkpoint and survive restarts with no manual
seeding. Emission rows carry batch_id so at-least-once consumers
dedupe on it, the `streaming/ivf.py` contract.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, functions as F


class DisorderMonitor:
    """Carryable monitor state + per-batch processor.

    Use directly in ``foreachBatch``::

        mon = DisorderMonitor(key_col="event_type", ts_col="ts")
        stream.writeStream.foreachBatch(mon.process).start()

    ``on_emit`` (if given) receives each batch's summary DataFrame —
    one row per key present in the batch: ``(batch_id, key, n, n_late,
    max_late_s, hwm)`` where ``hwm`` is the POST-batch high-water mark.

    ``initial_hwm`` seeds the per-key marks (restart continuity — save
    the latest emission's ``hwm`` per key, reload here). ``keep_emitted``
    controls the in-memory ``emitted`` log: the default retains
    everything (convenient for tests/short sessions); pass a bound for
    long-running queries so the driver list can't grow without limit
    (only the most recent ``keep_emitted`` rows are retained), or 0 to
    disable retention entirely — ``on_emit`` remains the durable path.
    """

    def __init__(self, key_col: str, ts_col: str,
                 on_emit: Optional[Callable[[DataFrame], None]] = None,
                 initial_hwm: Optional[Dict[object, float]] = None,
                 keep_emitted: Optional[int] = None):
        if keep_emitted is not None and keep_emitted < 0:
            raise ValueError(
                f"keep_emitted must be >= 0, got {keep_emitted}")
        self.key_col = key_col
        self.ts_col = ts_col
        self.on_emit = on_emit
        self.hwm: Dict[object, float] = dict(initial_hwm or {})
        self.keep_emitted = keep_emitted
        self.emitted: list = []

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        t = F.col(self.ts_col).cast("double")
        base = (batch_df.filter(t.isNotNull()
                                & F.col(self.key_col).isNotNull())
                .select(F.col(self.key_col).cast("string").alias("key"),
                        t.alias("_t")))
        # lateness is computed EXECUTOR-side against the broadcast
        # pre-batch marks (one double per key); only per-key aggregate
        # rows ever reach the driver
        if self.hwm:
            hdf = spark.createDataFrame(
                [(str(k), float(v)) for k, v in self.hwm.items()],
                "key string, _hw double")
            j = base.join(F.broadcast(hdf), "key", "left")
        else:
            j = base.withColumn("_hw", F.lit(None).cast("double"))
        late = F.when(F.col("_hw").isNotNull()
                      & (F.col("_hw") > F.col("_t")),
                      F.col("_hw") - F.col("_t"))
        rows = (j.groupBy("key")
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.count(late).cast("long").alias("n_late"),
                     F.max(late).alias("_ml"),
                     F.max("_t").alias("_mx")))
        out = []
        for r in rows.collect():
            prev = self.hwm.get(r["key"])
            new_hwm = r["_mx"] if prev is None else max(prev, r["_mx"])
            self.hwm[r["key"]] = new_hwm
            out.append((int(batch_id), r["key"], int(r["n"]),
                        int(r["n_late"]),
                        float(r["_ml"]) if r["_ml"] is not None else None,
                        float(new_hwm)))
        emit = batch_df.sparkSession.createDataFrame(
            out, "batch_id long, key string, n long, n_late long, "
                 "max_late_s double, hwm double")
        if self.keep_emitted is None:
            self.emitted.extend(out)
        elif self.keep_emitted > 0:
            self.emitted = (self.emitted + out)[-self.keep_emitted:]
        if self.on_emit is not None:
            self.on_emit(emit)


def disorder_monitor_stream(stream: DataFrame, key_col: str, ts_col: str,
                            checkpoint: str,
                            on_emit: Optional[Callable] = None):
    """Attach a :class:`DisorderMonitor` to a streaming DataFrame via
    foreachBatch; returns ``(query, monitor)`` — stop the query, read
    ``monitor.emitted``/``monitor.hwm``."""
    mon = DisorderMonitor(key_col, ts_col, on_emit=on_emit)
    q = (stream.writeStream.foreachBatch(mon.process)
         .option("checkpointLocation", checkpoint)
         .outputMode("append").start())
    return q, mon
