"""Streaming drift monitoring: per-micro-batch PSI against a pinned
reference — the LIVE twin of `operators.metrics.psi_drift` /
`psi_timeline`. The reference window's quantile thresholds and bin
shares are computed ONCE (batch side) and pinned; each micro-batch then
needs only its own bin counts (one tiny aggregation per batch, no
state), so the monitor adds near-zero overhead to any ingest stream and
emits one ``(batch_id, n, psi, alarm)`` row per batch.

Exactness: a batch's PSI equals `psi_drift(reference, batch)` run in
batch mode (parity-tested) — same thresholds, same 1e-6 empty-bin clip.
foreachBatch is at-least-once: downstream consumers dedupe on batch_id
(same contract as `streaming/ivf.py`).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


def reference_bins(reference: DataFrame, value_col: str,
                   n_bins: int = 10, min_share: float = 1e-6) -> dict:
    """Pin a reference window: exact quantile thresholds + clipped bin
    shares, as plain python values (tiny — ``n_bins`` numbers) ready to
    broadcast into every micro-batch. Same construction as
    `metrics.psi_drift`."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    v = F.col(value_col).cast("double")
    ref = reference.filter(v.isNotNull())
    qs = [i / n_bins for i in range(1, n_bins)]
    row = ref.agg(F.percentile(v, F.array(*[F.lit(q) for q in qs]))
                  .alias("_t")).collect()[0]["_t"]
    if row is None:
        raise ValueError("empty reference window")
    thresholds = [float(t) for t in row]
    bin_expr = F.lit(0)
    for t in thresholds:
        bin_expr = bin_expr + (v > F.lit(t)).cast("int")
    counts = {r["bin"]: r["n"] for r in
              ref.select(bin_expr.alias("bin"))
              .groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = float(sum(counts.values()))
    ms = float(min_share)
    shares = [max(counts.get(b, 0) / total, ms) for b in range(n_bins)]
    return {"thresholds": thresholds, "shares": shares,
            "min_share": ms, "n_bins": n_bins}


def batch_psi(batch: DataFrame, bins: dict, value_col: str) -> tuple:
    """PSI of one (static) batch against pinned reference bins —
    ``(n, psi)``; ``(0, None)`` for an empty batch. The per-batch kernel
    of :func:`streaming_psi_monitor`, exposed for batch-parity tests."""
    v = F.col(value_col).cast("double")
    bin_expr = F.lit(0)
    for t in bins["thresholds"]:
        bin_expr = bin_expr + (v > F.lit(float(t))).cast("int")
    counts = {r["bin"]: r["n"] for r in
              batch.filter(v.isNotNull())
              .select(bin_expr.alias("bin"))
              .groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(counts.values())
    if n == 0:
        return 0, None
    ms = bins["min_share"]
    psi = 0.0
    for b in range(bins["n_bins"]):
        cs = max(counts.get(b, 0) / float(n), ms)
        rs = bins["shares"][b]
        psi += (cs - rs) * math.log(cs / rs)
    return int(n), float(psi)


def streaming_psi_monitor(stream: DataFrame, bins: dict, value_col: str,
                          sink: list, threshold: float = 0.25):
    """Attach the PSI monitor to a streaming frame: returns the
    ``foreachBatch`` writer (caller starts it). Each micro-batch appends
    ``{"batch_id", "n", "psi", "alarm"}`` to ``sink`` (a plain list for
    tests; swap for a table-append in production — same dict shape).
    Empty batches record ``psi = None`` and never alarm.
    """
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        n, psi = batch_psi(batch_df, bins, value_col)
        sink.append({"batch_id": int(batch_id), "n": n, "psi": psi,
                     "alarm": psi is not None and psi > threshold})

    return stream.writeStream.foreachBatch(process)
