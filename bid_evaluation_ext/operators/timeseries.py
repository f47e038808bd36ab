"""Hypertable-style time-series maintenance: time bucketing and gap-filling.

The continuous-aggregate / ``time_bucket_gapfill`` family (TimescaleDB,
InfluxDB, QuestDB vocabulary) re-expressed as DataFrame ops:

- :func:`time_bucket` — floor a timestamp (or numeric) column onto a regular
  grid of ``width`` seconds, as portable epoch-second longs.
- :func:`bucket_aggregate` — one value per (key, bucket): the continuous
  aggregate a downstream dashboard or feature store reads.
- :func:`gapfill` — densify each key's bucket range (every bucket between the
  key's first and last appears exactly once) and fill the holes: ``none``
  (leave null), ``zero``/constant, ``locf`` (last observation carried
  forward), or ``linear`` (interpolate between the neighboring observed
  buckets; edges fall back to nearest-observation fill).

Scale shape: the raw scan collapses to O(keys × buckets) in ONE shuffle
(the groupBy); everything after — bounds, grid explode, fill windows — runs
on the aggregated frame, orders of magnitude smaller than the input. The
grid join and the fill windows both key on (key) / (key, bucket), so AQE
coalesces them off the same small frames. A key's grid is ``sequence(min,
max)`` — one array per key, linear in that key's span, never a cross
product. Window fills are ``last/first(ignorenulls)`` over rows frames —
single pass per key, no self-join.

No reference counterpart (`/root/reference` has no time-series surface);
this is a beyond-reference operator motivated by training-data pipelines
over event logs (regular feature grids need explicit gap semantics).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from .cache import track_cached

from bid_evaluation_ext.dispatch import local_cap

_FILLS = ("none", "zero", "locf", "linear")


def time_bucket(col: Column, width: float) -> Column:
    """Bucket start as epoch-second-scaled long: ``floor(epoch(ts)/width)``.

    Returns the bucket INDEX (multiply by ``width`` for the bucket's start
    time) — integers survive cross-engine hashing where rendered timestamps
    do not. Accepts timestamp columns (cast to fractional epoch seconds) or
    plain numerics.
    """
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")
    return F.floor(col.cast("double") / F.lit(float(width))).cast("long")


def bucket_aggregate(df: DataFrame, ts_col: str = "ts",
                     key_col: str = "user_id", value_col: str = "value",
                     width: float = 3600.0, agg: str = "avg") -> DataFrame:
    """Continuous aggregate: one row per (key, bucket) with the bucket's
    ``value`` (avg/sum/min/max/count of ``value_col``) and ``n_rows``.

    One hash-partial-aggregated shuffle on (key, bucket); output size is
    O(keys × active buckets) regardless of input row count.
    """
    aggs = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "count": F.count}
    if agg not in aggs:
        raise ValueError(f"agg must be one of {sorted(aggs)}, got {agg}")
    b = time_bucket(F.col(ts_col), width)
    return (df.groupBy(F.col(key_col), b.alias("bucket"))
              .agg(aggs[agg](F.col(value_col)).cast("double").alias("value"),
                   F.count(F.lit(1)).alias("n_rows")))


def gapfill(df: DataFrame, ts_col: str = "ts", key_col: str = "user_id",
            value_col: str = "value", width: float = 3600.0,
            agg: str = "avg", fill: str = "locf",
            fill_value: float = 0.0,
            grid_max_buckets: Optional[int] = 10_000_000) -> DataFrame:
    """Densified continuous aggregate over ``df``'s raw rows.

    Output: ``(key_col, bucket, value, is_gap)`` — every bucket between each
    key's first and last observed bucket exactly once; ``is_gap`` marks
    buckets with no observed rows; ``value`` is filled per ``fill``:

    - ``none``   — gaps keep NULL.
    - ``zero``   — gaps take ``fill_value`` (default 0.0).
    - ``locf``   — gaps take the latest earlier observed value (leading gaps
      stay NULL — nothing to carry).
    - ``linear`` — interior gaps interpolate linearly between the
      neighboring observed buckets; leading/trailing gaps carry the nearest
      observation (the standard gapfill edge behavior).

    ``grid_max_buckets`` bounds a single key's densified span (a key with a
    one-row-per-year gap at 1 s width would otherwise explode the grid);
    crossing it raises rather than silently truncating.
    """
    if fill not in _FILLS:
        raise ValueError(f"fill must be one of {_FILLS}, got {fill}")
    # persisted (r12 opt): the per-key bounds aggregate AND the grid
    # join both read the bucket aggregate — without the cache the raw
    # scan + bucket groupBy ran twice per query
    g = bucket_aggregate(df, ts_col, key_col, value_col, width, agg).persist()

    bounds = g.groupBy(key_col).agg(F.min("bucket").alias("_mn"),
                                    F.max("bucket").alias("_mx"))
    if grid_max_buckets is not None:
        bounds = bounds.withColumn(
            "_span", F.col("_mx") - F.col("_mn") + 1
        ).withColumn(
            "_mn",
            F.when(F.col("_span") > F.lit(int(grid_max_buckets)),
                   F.raise_error(F.concat(
                       F.lit(f"gapfill: key span exceeds {grid_max_buckets} "
                             "buckets for key "),
                       F.col(key_col).cast("string"))))
             .otherwise(F.col("_mn")),
        ).drop("_span")
    grid = bounds.select(
        key_col, F.explode(F.sequence("_mn", "_mx")).alias("bucket"))

    j = grid.join(g, on=[key_col, "bucket"], how="left")
    gap = F.col("n_rows").isNull()
    v = F.col("value")

    if fill == "none":
        filled = v
    elif fill == "zero":
        filled = F.coalesce(v, F.lit(float(fill_value)))
    else:
        w_back = (Window.partitionBy(key_col).orderBy("bucket")
                  .rowsBetween(Window.unboundedPreceding, 0))
        prev = F.last(F.when(v.isNotNull(),
                             F.struct(F.col("bucket").alias("b"),
                                      v.alias("v"))),
                      ignorenulls=True).over(w_back)
        if fill == "locf":
            filled = F.coalesce(v, prev["v"])
        else:  # linear
            w_fwd = (Window.partitionBy(key_col).orderBy("bucket")
                     .rowsBetween(0, Window.unboundedFollowing))
            nxt = F.first(F.when(v.isNotNull(),
                                 F.struct(F.col("bucket").alias("b"),
                                          v.alias("v"))),
                          ignorenulls=True).over(w_fwd)
            span = (nxt["b"] - prev["b"]).cast("double")
            interp = prev["v"] + (nxt["v"] - prev["v"]) * (
                (F.col("bucket") - prev["b"]).cast("double") / span)
            filled = F.coalesce(
                v,
                F.when(prev.isNotNull() & nxt.isNotNull(), interp),
                prev["v"],   # trailing gaps: carry forward
                nxt["v"],    # leading gaps: carry backward
            )

    return track_cached(
        j.select(key_col, "bucket", filled.alias("value"),
                 gap.alias("is_gap")), [g])


def retention_cohorts(df: DataFrame, ts_col: str = "ts",
                      user_col: str = "user_id",
                      bucket_seconds: float = 604800.0) -> DataFrame:
    """Cohort retention analysis → one row per (cohort bucket, offset):
    ``(cohort_bucket, offset, n_active, cohort_size, retention)``.

    A user's cohort is the time bucket of their FIRST event (epoch-floored
    fixed-width buckets — deterministic across engines, no calendar-week
    ambiguity); ``n_active`` counts the cohort's users active ``offset``
    buckets later, and ``retention = n_active / cohort_size`` (offset 0 is
    1.0 by construction — the sanity row).

    Shape: one groupBy(user) for first-seen, one distinct over
    (user, bucket) — both partially aggregated — then an equi-join on the
    user key and a final (cohort, offset) count. No windows, no
    cross-bucket explosion; cost is linear in events with two shuffles on
    the user key (AQE can reuse the partitioning between them).
    """
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be > 0, got {bucket_seconds}")
    b = F.floor(F.col(ts_col).cast("double") / F.lit(float(bucket_seconds)))
    ev = (df.filter(F.col(ts_col).isNotNull()
                    & F.col(user_col).isNotNull())
          .select(F.col(user_col).alias("_u"), b.cast("long").alias("_b")))
    first = ev.groupBy("_u").agg(F.min("_b").alias("_cohort"))
    active = ev.distinct()
    joined = active.join(first, on="_u")
    counts = (joined.groupBy(
        F.col("_cohort").alias("cohort_bucket"),
        (F.col("_b") - F.col("_cohort")).alias("offset"))
        .agg(F.count("*").cast("long").alias("n_active")))
    sizes = (first.groupBy(F.col("_cohort").alias("cohort_bucket"))
             .agg(F.count("*").cast("long").alias("cohort_size")))
    return (counts.join(sizes, on="cohort_bucket")
            .withColumn("retention",
                        F.col("n_active") / F.col("cohort_size")))


def concurrency_timeline(df: DataFrame, start_col: str, end_col: str,
                         buckets: int = 64) -> DataFrame:
    """Running concurrency of closed intervals ``[start, end]`` at every
    boundary instant: ``(ts, net, concurrency)`` where ``concurrency``
    counts intervals with ``start <= ts <= end`` (an interval ending and
    another starting at the same instant DO overlap; zero-length
    single-event sessions count at their instant). Peak concurrency is
    ``max(concurrency)`` over the result.

    The classic sweep-line, made distributed: boundaries collapse to
    distinct instants in one partially-aggregated shuffle (+1 starts,
    −1 ends netted per instant), and the prefix sum over instants runs
    bucket-partitioned — quantile boundaries (``buckets`` scalars to the
    driver) split the timeline, per-bucket sums come back as exclusive
    prefix OFFSETS, and a window partitioned by bucket finishes the sum.
    No unpartitioned window, no self-join; per-partition work is
    ~|distinct instants| / buckets. Closed-interval semantics come from
    adding back the instant's end-count (the −1s take effect just after
    the instant).

    Intervals with a null endpoint or ``end < start`` are dropped.
    """
    s = F.col(start_col).cast("double")
    e = F.col(end_col).cast("double")
    base = df.filter(s.isNotNull() & e.isNotNull() & (e >= s))
    # ONE pass over base (r12 opt): a start/end UNION evaluated the
    # whole upstream subtree (e.g. the sessionize window) once per side
    deltas = (base.select(F.explode(F.array(
        F.struct(s.alias("ts"), F.lit(1).alias("_d")),
        F.struct(e.alias("ts"), F.lit(-1).alias("_d")))).alias("_se"))
        .select("_se.ts", "_se._d"))
    # persisted (r12 opt): the quantile probe, the per-bucket offset
    # collect and the returned lazy plan all derive from `net` — without
    # the cache the upstream ran once per consumer
    net = (deltas.groupBy("ts")
           .agg(F.sum("_d").alias("net"),
                F.sum(F.when(F.col("_d") < 0, 1).otherwise(0))
                 .alias("_ends"))).persist()

    probs = [i / buckets for i in range(1, buckets)]
    bounds = sorted(set(net.approxQuantile("ts", probs, 0.001))) if probs \
        else []
    bexpr = F.lit(0)
    for b in bounds:
        bexpr = bexpr + F.when(F.col("ts") > F.lit(b), 1).otherwise(0)
    keyed = net.withColumn("_b", bexpr)

    bsum = {r["_b"]: r["_s"] for r in
            keyed.groupBy("_b").agg(F.sum("net").alias("_s")).collect()}
    offset = {}
    run = 0
    for b in sorted(bsum):
        offset[b] = run
        run += int(bsum[b] or 0)
    off_expr = F.lit(0)
    for b, o in offset.items():
        if o:
            off_expr = (F.when(F.col("_b") == F.lit(b), F.lit(o))
                        .otherwise(off_expr))

    w = (Window.partitionBy("_b").orderBy("ts")
         .rowsBetween(Window.unboundedPreceding, 0))
    running = F.sum("net").over(w) + off_expr
    # `net` also feeds the returned lazy plan — release via cache registry.
    return track_cached(
        keyed.select("ts", F.col("net").cast("long").alias("net"),
                     (running + F.col("_ends")).cast("long")
                     .alias("concurrency")), [net])


def merge_intervals(df: DataFrame, key_col: str, start_col: str,
                    end_col: str, tiebreak_col: Optional[str] = None
                    ) -> DataFrame:
    """Coalesce overlapping/touching closed intervals per key into maximal
    disjoint spans — the "flatten ranges" op (union of on-call windows,
    session coverage, blackout periods). Returns
    ``(key_col, start_col, end_col, n_merged)``.

    One key-partitioned window pass: intervals ordered by (start, end),
    an interval opens a new span when its start exceeds the running max
    end of all predecessors (exclusive frame), spans then groupBy
    (key, span_id). Touching intervals (next.start == prev.end) merge —
    closed-interval semantics, matching :func:`concurrency_timeline`.
    Per-key history serializes in its partition (inherent to ordered
    per-key semantics). Invalid rows (null endpoint, end < start) drop.
    """
    s = F.col(start_col).cast("double")
    e = F.col(end_col).cast("double")
    base = df.filter(s.isNotNull() & e.isNotNull() & (e >= s))
    order = [s.asc(), e.asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else [])
    w_prev = (Window.partitionBy(key_col).orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, -1))
    new_span = F.when(s > F.coalesce(F.max(e).over(w_prev),
                                     F.lit(float("-inf"))), 1).otherwise(0)
    w_run = (Window.partitionBy(key_col).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, 0))
    spans = base.withColumn("_span", F.sum(new_span).over(w_run))
    return (spans.groupBy(key_col, "_span")
            .agg(F.min(s).alias(start_col), F.max(e).alias(end_col),
                 F.count(F.lit(1)).alias("n_merged"))
            .drop("_span"))


def ewma_by_key(df: DataFrame, key_col: str, ts_col: str, value_col: str,
                tiebreak_col: str, alpha: float = 0.2) -> DataFrame:
    """Per-key exponentially weighted moving average in event order:
    ``s_1 = x_1``, ``s_t = α·x_t + (1−α)·s_{t−1}`` — the standard
    smoother behind drift monitors and trend features.

    The recurrence depends on every prior row, so (like capped
    sessionization) no fixed window frame expresses it. Like
    :func:`holt_by_key` (r12 opt — the per-KEY ``applyInPandas`` shape
    paid one Python call + one pandas frame per key), it runs as ONE
    ``mapInPandas`` kernel per partition, hash-partitioned by key and
    sorted by (key, ts, tiebreak), the recurrence advancing
    STEP-VECTORIZED with the identical IEEE op sequence per key
    (``α·x + (1−α)·s``), so an engine replaying the recurrence (the
    recursive-CTE oracle) lands on bit-identical doubles. Rows with
    a null value are excluded. Returns
    ``(key_col, tiebreak_col, value, ewma)``.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    prepared = df.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_ts").isNotNull())
    a = float(alpha)

    def smooth(batches):
        pdf = _collect_sorted_partition(batches)
        if pdf is None:
            return
        vals = pdf["_v"].to_numpy(dtype=np.float64)
        starts, lengths = _key_runs(pdf["_k"].to_numpy())
        s = np.empty(len(pdf), dtype=np.float64)
        s[starts] = vals[starts]
        for t in range(1, int(lengths.max())):
            act = starts[lengths > t] + t
            s[act] = a * vals[act] + (1.0 - a) * s[act - 1]
        pdf["ewma"] = s
        yield pdf

    k_type = dict(prepared.dtypes)["_k"]
    res = (prepared.repartition("_k")
           .sortWithinPartitions("_k", "_ts", "_tb")
           .mapInPandas(smooth, f"_k {k_type}, _ts double, _tb long, "
                                "_v double, ewma double"))
    return res.select(F.col("_k").alias(key_col),
                      F.col("_tb").alias(tiebreak_col),
                      F.col("_v").alias("value"), "ewma")


def _collect_sorted_partition(batches):
    """Concatenate a sorted partition's Arrow batches (a key's rows can
    span batches); ``None`` for an empty partition."""
    pdfs = [p for p in batches]
    if not pdfs:
        return None
    pdf = (pd.concat(pdfs, ignore_index=True)
           if len(pdfs) > 1 else pdfs[0].reset_index(drop=True))
    return pdf if len(pdf) else None


def _key_runs(kv):
    """Run starts/lengths over a key-sorted array, with SQL group
    semantics for nulls (all null keys one group; they sort
    adjacent)."""
    n = len(kv)
    isna = pd.isna(kv)
    new = np.empty(n, dtype=bool)
    new[0] = True
    new[1:] = ~((kv[1:] == kv[:-1]) | (isna[1:] & isna[:-1]))
    starts = np.flatnonzero(new)
    return starts, np.diff(starts, append=n)


def cusum_by_key(df: DataFrame, key_col: str, ts_col: str, value_col: str,
                 tiebreak_col: str, target: float, slack: float = 0.5,
                 threshold: float = 5.0) -> DataFrame:
    """Per-key two-sided CUSUM change detection in event order (Page 1954
    — the classic sequential change-point chart behind production drift
    alarms): ``S⁺_t = max(0, S⁺_{t−1} + (x_t − target − slack))``,
    ``S⁻_t = max(0, S⁻_{t−1} + (target − slack − x_t))``, alarm when
    either side exceeds ``threshold``. Detects small persistent mean
    shifts that per-point z-scores (`robust_zscore`) miss.

    Same execution shape as :func:`ewma_by_key` (r12 opt): the
    recurrence depends on every prior row, so it runs as ONE
    ``mapInPandas`` kernel per hash-partition, sorted by
    (key, ts, tiebreak) and advanced STEP-VECTORIZED — the identical
    IEEE op sequence per key (``max(0, S + ((x − t) − k))`` with the
    same left-to-right subtraction order), so a recursive-CTE oracle
    replays bit-identical doubles. Null values/timestamps are
    excluded. Returns ``(key_col, tiebreak_col, value, cusum_pos,
    cusum_neg, alarm)``.
    """
    if slack < 0:
        raise ValueError(f"slack must be non-negative, got {slack}")
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    prepared = df.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_ts").isNotNull())
    t, k, h = float(target), float(slack), float(threshold)

    def chart(batches):
        pdf = _collect_sorted_partition(batches)
        if pdf is None:
            return
        vals = pdf["_v"].to_numpy(dtype=np.float64)
        starts, lengths = _key_runs(pdf["_k"].to_numpy())
        n = len(pdf)
        sp = np.empty(n, dtype=np.float64)
        sn = np.empty(n, dtype=np.float64)
        # step 0 from S=0, exactly the sequential fold's first step
        sp[starts] = np.maximum(0.0, 0.0 + (vals[starts] - t - k))
        sn[starts] = np.maximum(0.0, 0.0 + (t - k - vals[starts]))
        for step in range(1, int(lengths.max())):
            act = starts[lengths > step] + step
            prev = act - 1
            sp[act] = np.maximum(0.0, sp[prev] + (vals[act] - t - k))
            sn[act] = np.maximum(0.0, sn[prev] + (t - k - vals[act]))
        pdf["cusum_pos"] = sp
        pdf["cusum_neg"] = sn
        pdf["alarm"] = (sp > h) | (sn > h)
        yield pdf

    k_type = dict(prepared.dtypes)["_k"]
    res = (prepared.repartition("_k")
           .sortWithinPartitions("_k", "_ts", "_tb")
           .mapInPandas(
               chart, f"_k {k_type}, _ts double, _tb long, _v double, "
                      "cusum_pos double, cusum_neg double, alarm boolean"))
    return res.select(F.col("_k").alias(key_col),
                      F.col("_tb").alias(tiebreak_col),
                      F.col("_v").alias("value"),
                      "cusum_pos", "cusum_neg", "alarm")


def seasonal_naive_backtest(df: DataFrame, key_col: str, ts_col: str,
                            value_col: str, season: int,
                            tiebreak_col: str) -> DataFrame:
    """Per-key seasonal-naive forecast backtest: forecast ŷ_t = y_{t−m}
    (the value one season back in event order) scored by MAE and MASE —
    MASE = MAE / MAE(one-step naive), the scale-free accuracy measure of
    Hyndman & Koehler 2006. The mandatory BASELINE before any real
    forecasting model ships: a model that can't beat seasonal-naive
    (MASE < 1 on this readout) is noise.

    Two ``lag`` windows per key (season and 1) + one per-key aggregate —
    no Python, no cross-row recurrence. Rows lacking a lag (the first
    ``season`` per key) don't score; keys with fewer than ``season + 2``
    rows return null metrics (no evaluable forecast), and a constant
    series returns null MASE (naive denominator 0) rather than ∞.
    Returns ``(key_col, n_eval, mae, mase)``.
    """
    if season < 1:
        raise ValueError(f"season must be positive, got {season}")
    v = F.col(value_col).cast("double")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).cast("double"),
                                            F.col(tiebreak_col))
    lagged = (df.filter(v.isNotNull() & F.col(ts_col).isNotNull())
              .select(key_col, v.alias("_v"),
                      F.lag(v, season).over(w).alias("_f"),
                      F.lag(v, 1).over(w).alias("_p")))
    per_key = (lagged.groupBy(key_col).agg(
        F.count("_f").alias("n_eval"),
        F.avg(F.abs(F.col("_v") - F.col("_f"))).alias("mae"),
        F.avg(F.when(F.col("_f").isNotNull(),
                     F.abs(F.col("_v") - F.col("_p")))).alias("_mae_naive")))
    return per_key.select(
        key_col, "n_eval", "mae",
        F.when(F.col("_mae_naive") > 0,
               F.col("mae") / F.col("_mae_naive")).alias("mase"))


def event_transitions(df: DataFrame, key_col: str, ts_col: str,
                      state_col: str, tiebreak_col: str) -> DataFrame:
    """First-order Markov transition table from per-key event sequences:
    one lag window in (ts, tiebreak) order per key, then ONE groupBy over
    (from_state, to_state) — the user-journey model behind funnel
    diagnostics and next-event prediction baselines. Returns
    ``(from_state, to_state, n, p)`` with ``p = n / Σ_to n`` (row-
    normalized via a from-state-partitioned window over the bounded
    state×state table). Null states and each key's first event (no
    predecessor) contribute no transition. Transitions never cross keys.
    """
    s = F.col(state_col).cast("string")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).cast("double"),
                                            F.col(tiebreak_col))
    pairs = (df.filter(s.isNotNull() & F.col(ts_col).isNotNull())
             .select(F.lag(s).over(w).alias("from_state"),
                     s.alias("to_state"))
             .filter(F.col("from_state").isNotNull()))
    counts = (pairs.groupBy("from_state", "to_state")
              .agg(F.count(F.lit(1)).alias("n")))
    wf = Window.partitionBy("from_state")
    return counts.select(
        "from_state", "to_state", "n",
        (F.col("n") / F.sum("n").over(wf)).alias("p"))


def transition_entropy_rate(transitions: DataFrame) -> DataFrame:
    """Entropy rate of a fitted transition table (output of
    :func:`event_transitions`): ``H = Σ_i π_i · Σ_j −p_ij·ln p_ij`` with
    ``π`` the empirical from-state distribution — 0 for a deterministic
    journey, ln(k) for a uniform random walk over k next-states; the
    single-number "how predictable is the next event" summary. Two
    aggregates over the (bounded) transition table. Returns one row
    ``(entropy_rate, n_states, n_transitions)``.
    """
    t = transitions
    per_from = (t.groupBy("from_state")
                .agg(F.sum("n").alias("_nf"),
                     F.sum(-F.col("p") * F.log("p")).alias("_h")))
    return (per_from
            .agg((F.sum(F.col("_nf") * F.col("_h")) / F.sum("_nf"))
                 .alias("entropy_rate"),
                 F.count(F.lit(1)).alias("n_states"),
                 F.sum("_nf").alias("n_transitions")))


def kaplan_meier(df: DataFrame, duration_col: str,
                 event_col: str, digits: int = 6) -> DataFrame:
    """Kaplan-Meier product-limit survival curve (1958 — the standard
    censoring-aware retention/churn estimator; naive "share still alive
    at t" is biased the moment observation windows differ): at each
    distinct event time ``S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)`` with
    ``d_i`` events and ``n_i`` at-risk (still under observation) at
    ``t_i``. ``event_col`` is boolean — false rows are right-censored:
    they leave the risk set at their duration without counting as
    events. Returns one row per distinct duration with an event or
    censoring: ``(duration, n_risk, n_event, n_censored, survival)``.

    Shape: durations quantize to ``digits`` decimals first (the
    ks_statistic pattern — continuous durations would otherwise make
    every row a distinct time and the ordered window unbounded), then
    ONE groupBy(duration) + ordered cumulative windows over the bounded
    distinct-duration table; the product becomes ``exp(Σ ln(1 − d/n))``
    (ordered window sum — deterministic), with the exhausted-risk-set
    tail (``d = n``) pinned to exactly 0 instead of flowing through
    ``ln(0)`` (Spark nulls it, other engines −inf).
    """
    scale = float(10 ** digits)
    dur = (F.round(F.col(duration_col).cast("double") * scale) / scale)
    ev = F.col(event_col).cast("boolean")
    rows = df.filter(dur.isNotNull() & ev.isNotNull())
    per_t = (rows.groupBy(dur.alias("duration"))
             .agg(F.count(F.lit(1)).alias("_leaving"),
                  F.sum(ev.cast("long")).alias("n_event")))
    w_ord = Window.orderBy("duration")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    total = F.sum("_leaving").over(
        w_ord.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    n_risk = total - F.coalesce(F.sum("_leaving").over(w_cum), F.lit(0))
    staged = per_t.select(
        "duration", "n_event",
        (F.col("_leaving") - F.col("n_event")).alias("n_censored"),
        n_risk.alias("n_risk"))
    frac = F.col("n_event") / F.col("n_risk")
    term = F.when(F.col("n_event") < F.col("n_risk"),
                  F.log(F.lit(1.0) - frac)).otherwise(F.lit(0.0))
    dead = F.max((F.col("n_event") >= F.col("n_risk")).cast("int")).over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    logsum = F.sum(term).over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return staged.select(
        "duration", F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_event").cast("long").alias("n_event"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.when(dead == 1, F.lit(0.0)).otherwise(F.exp(logsum))
        .alias("survival"))


def km_summary(km: DataFrame, horizon: float) -> DataFrame:
    """Summaries of a fitted Kaplan-Meier curve (output of
    :func:`kaplan_meier`): the MEDIAN survival time (first duration with
    ``S ≤ 0.5``; null when the curve never crosses — the honest answer
    under heavy censoring, where a naive median-of-durations is biased
    low) and the RESTRICTED MEAN survival time up to ``horizon`` —
    ``RMST = ∫₀^τ S(t)dt`` as the step-function sum
    ``Σ S(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ)`` plus the leading ``[0, t₁)`` strip
    at S=1 — the standard "expected time alive within τ" readout that
    stays defined even when the median doesn't. Two ordered windows over
    the (bounded — see kaplan_meier's quantization) curve table.
    """
    if horizon <= 0:
        raise ValueError(f"horizon must be positive, got {horizon}")
    w = Window.orderBy("duration")
    nxt = F.coalesce(F.lead("duration").over(w), F.lit(float(horizon)))
    first_t = F.min("duration").over(
        w.rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    seg = (F.least(nxt, F.lit(float(horizon)))
           - F.least(F.col("duration"), F.lit(float(horizon))))
    staged = km.select(
        "duration", "survival",
        (F.col("survival") * seg).alias("_area"),
        # quantize before the threshold compare: the exp(Σ ln) product
        # lands an exact-half crossing at 0.5 ± 1 ulp
        F.when(F.round(F.col("survival") * F.lit(1e9)) / F.lit(1e9)
               <= 0.5, F.col("duration")).alias("_med_cand"),
        F.least(first_t, F.lit(float(horizon))).alias("_lead_strip"))
    return staged.agg(
        F.min("_med_cand").alias("median_survival"),
        (F.max("_lead_strip") + F.sum("_area")).alias("rmst"),
        F.lit(float(horizon)).alias("horizon"))


def acf_by_key(df: DataFrame, key_col: str, order_cols: Sequence[str],
               value_col: str, lags: Sequence[int] = (1, 2, 3),
               engine: str = "auto") -> DataFrame:
    """Per-key autocorrelation function → ``(key, lag, n_pairs, acf)``:
    Pearson correlation between the series and its ``lag``-shifted self,
    rows ordered by ``order_cols`` (pass a tie-breaking unique suffix —
    ties would make the shift, and therefore the ACF, nondeterministic).

    ALL lags share ONE window pass (each lag is one more ``lag()`` over
    the same ordered frame — no re-sort) and ONE groupBy: each lag
    contributes a stable co-moment tuple (pair count, ``corr``,
    ``var_samp`` of each side over the pair-masked values — Welford
    aggregates, immune to the ``n·Σxy − Σx·Σy`` cancellation on
    large-mean series; round-7 conditioning fix) to the same fused
    aggregate, so the lag count never adds passes. Pairs where either
    end is null are skipped per-lag (the mask nulls both sides, which
    corr/var_samp then ignore). ``acf`` is null when either side is
    constant (zero variance); rounded to 4 decimals (the repo's oracle
    contract).

    Scale shape: the window partitions by key — parallelism is key
    cardinality, and a key's history must fit a task (inherent to exact
    per-key ACF; for monster keys, bucket time first and run the ACF on
    the bucketed series). The groupBy rides the window's partitioning.

    Engines (r13, guide §4.2): ``kernel`` (the default) computes the
    per-(key, lag) co-moments in ONE sorted-partition ``mapInPandas``
    pass — shifted-mask pair selection vectorized ACROSS keys, two-pass
    centered sums (at least as stable as the agg engine's Welford
    buffers) — and hands (n, r, vx, vy) to the SAME Column tail that
    builds ``acf``. The ``agg`` engine keeps the fused
    corr/var_samp aggregate (12 lags × 3 Welford buffers per row was
    the measured cost at sf0.1); same partitioning constraint, exercised
    by the forced-distributed wave. Both engines' floats differ only in
    co-moment accumulation order — inside the tolerance the 4-decimal
    round already grants Spark's own partition-order-dependent corr.
    """
    from bid_evaluation_ext.dispatch import force_distributed

    lags = list(lags)
    if not lags or any(l < 1 for l in lags):
        raise ValueError("lags must be positive integers")
    if engine not in ("auto", "agg", "kernel"):
        raise ValueError(f"engine must be auto/agg/kernel, got {engine!r}")
    if engine == "auto":
        engine = "agg" if force_distributed() else "kernel"
    if engine == "kernel":
        moments = _acf_moments_kernel(df, key_col, order_cols,
                                      value_col, lags)
        acf_k = F.when((F.col("_vx") > 0) & (F.col("_vy") > 0),
                       F.round(F.col("_r") * 1e4) / 1e4 + F.lit(0.0))
        return moments.select(
            F.col("_k").alias(key_col),
            F.col("_lag").alias("lag"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long")
            .alias("n_pairs"),
            acf_k.alias("acf"))
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    x = F.col(value_col).cast("double")
    # all lags in ONE select — interleaving withColumn would wrap a
    # Project between Window nodes and defeat CollapseWindow
    base = df.select(key_col, *order_cols, value_col,
                     *[F.lag(x, l).over(w).alias(f"_y{l}") for l in lags])

    aggs = []
    for l in lags:
        y = F.col(f"_y{l}")
        ok = x.isNotNull() & y.isNotNull()
        xs, ys = F.when(ok, x), F.when(ok, y)
        aggs.append(F.struct(
            F.lit(l).cast("long").alias("lag"),
            F.sum(ok.cast("long")).alias("n"),
            F.corr(xs, ys).alias("r"),
            F.var_samp(xs).alias("vx"),
            F.var_samp(ys).alias("vy")).alias(f"_s{l}"))
    g = base.groupBy(key_col).agg(*aggs)

    s = F.explode(F.array(*[F.col(f"_s{l}") for l in lags])).alias("_s")
    acf = F.when((F.col("_s.vx") > 0) & (F.col("_s.vy") > 0),
                 F.round(F.col("_s.r") * 1e4) / 1e4 + F.lit(0.0))
    return (g.select(key_col, s)
            .select(F.col(key_col),
                    F.col("_s.lag").alias("lag"),
                    F.coalesce(F.col("_s.n"), F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    acf.alias("acf")))


def _acf_moments_kernel(df: DataFrame, key_col: str,
                        order_cols: Sequence[str], value_col: str,
                        lags: Sequence[int]) -> DataFrame:
    """Per-(key, lag) pair count and co-moments ``(_k, _lag, _n, _r,
    _vx, _vy)`` from ONE sorted-partition pass: rows hash-partitioned
    by key and sorted by (key, order_cols); for each lag the pair mask
    is a shifted key-equality comparison (groups are contiguous), and
    the two-pass centered sums are per-group ``bincount``s — vectorized
    across keys, no per-key Python loop. Every key emits a row per lag
    (n=0, null moments when the series is shorter than the lag),
    matching the agg engine's fused-struct row set."""
    prepared = df.select(
        F.col(key_col).alias("_k"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
        F.col(value_col).cast("double").alias("_x"))
    k_type = dict(prepared.dtypes)["_k"]
    lag_list = [int(l) for l in lags]

    def kern(batches):
        pdf = _collect_sorted_partition(batches)
        if pdf is None:
            return
        x = pdf["_x"].to_numpy(dtype=np.float64)
        kv = pdf["_k"].to_numpy()
        starts, lengths = _key_runs(kv)
        n_groups = len(starts)
        gid = np.repeat(np.arange(n_groups), lengths)
        ok = ~np.isnan(x)
        out_k, out_lag = [], []
        out_n = np.empty((len(lag_list), n_groups), dtype=np.int64)
        out_r = np.full((len(lag_list), n_groups), np.nan)
        out_vx = np.full((len(lag_list), n_groups), np.nan)
        out_vy = np.full((len(lag_list), n_groups), np.nan)
        for li, lag in enumerate(lag_list):
            if len(x) > lag:
                a, b = x[lag:], x[:-lag]
                valid = ((gid[lag:] == gid[:-lag])
                         & ok[lag:] & ok[:-lag])
                g = gid[lag:][valid]
                av, bv = a[valid], b[valid]
                n = np.bincount(g, minlength=n_groups)
                nz = np.maximum(n, 1).astype(np.float64)
                ma = np.bincount(g, weights=av,
                                 minlength=n_groups) / nz
                mb = np.bincount(g, weights=bv,
                                 minlength=n_groups) / nz
                da, db = av - ma[g], bv - mb[g]
                ck = np.bincount(g, weights=da * db,
                                 minlength=n_groups)
                sxx = np.bincount(g, weights=da * da,
                                  minlength=n_groups)
                syy = np.bincount(g, weights=db * db,
                                  minlength=n_groups)
                two = n >= 2
                with np.errstate(divide="ignore", invalid="ignore"):
                    out_vx[li][two] = (sxx[two]
                                       / (n[two] - 1).astype(np.float64))
                    out_vy[li][two] = (syy[two]
                                       / (n[two] - 1).astype(np.float64))
                    den = np.sqrt(sxx * syy)
                    pos = two & (den > 0)
                    out_r[li][pos] = ck[pos] / den[pos]
                out_n[li] = n
            else:
                out_n[li] = 0
        keys = kv[starts]
        for li, lag in enumerate(lag_list):
            out_k.append(keys)
            out_lag.append(np.full(n_groups, lag, dtype=np.int64))
        res = pd.DataFrame({
            "_k": np.concatenate(out_k),
            "_lag": np.concatenate(out_lag),
            "_n": out_n.reshape(-1),
            "_r": out_r.reshape(-1),
            "_vx": out_vx.reshape(-1),
            "_vy": out_vy.reshape(-1)})
        # NaN sentinels → proper nulls so the Column tail's comparisons
        # behave exactly like the agg engine's null corr/var
        for c in ("_r", "_vx", "_vy"):
            res[c] = res[c].astype(object).where(~pd.isna(res[c]), None)
        yield res

    order_names = [f"_o{i}" for i in range(len(order_cols))]
    return (prepared.repartition("_k")
            .sortWithinPartitions("_k", *order_names)
            .mapInPandas(kern, f"_k {k_type}, _lag long, _n long, "
                               "_r double, _vx double, _vy double"))


def holt_by_key(df: DataFrame, key_col: str, ts_col: str, value_col: str,
                tiebreak_col: str, alpha: float = 0.3,
                beta: float = 0.1) -> DataFrame:
    """Per-key Holt double-exponential (level + trend) smoothing in event
    order — the trend-aware upgrade of :func:`ewma_by_key`:

    ``l_1 = x_1``, ``b_1 = 0``; for t > 1:
    ``l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})``,
    ``b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}``.
    ``forecast_next = l_t + b_t`` (the one-step-ahead prediction).

    The recurrence depends on all prior rows of its key, so no fixed
    window frame expresses it — but unlike the per-group
    ``applyInPandas`` shape (one Python call + one pandas frame PER KEY:
    thousands of tiny groups pay ~ms of per-group overhead each,
    measured as the whole cost of this operator at sf0.1), it runs as
    ONE ``mapInPandas`` kernel per partition: rows are hash-partitioned
    by key and sorted within partitions by (key, ts, tiebreak), then the
    recurrence advances STEP-VECTORIZED — iteration t updates step t of
    every key in the partition at once with elementwise float64 numpy
    (identical IEEE op sequence per key, so the doubles stay
    bit-identical to the sequential loop and the recursive-CTE oracle;
    loop length = longest series, not row count). Null values /
    timestamps excluded. Returns ``(key_col, tiebreak_col, value,
    level, trend, forecast_next)``.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0 <= beta <= 1:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    prepared = df.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_ts").isNotNull())
    a, b = float(alpha), float(beta)

    def smooth(batches):
        # a key's rows can span Arrow batches — concatenate the
        # partition (bounded by rows-per-partition, the same budget any
        # shuffle task holds) so run boundaries are visible
        pdfs = [p for p in batches]
        if not pdfs:
            return
        pdf = (pd.concat(pdfs, ignore_index=True)
               if len(pdfs) > 1 else pdfs[0].reset_index(drop=True))
        n = len(pdf)
        if n == 0:
            return
        vals = pdf["_v"].to_numpy(dtype=np.float64)
        kv = pdf["_k"].to_numpy()
        # run starts: key != previous key, with SQL group semantics for
        # nulls (all null keys are one group; they sort adjacent)
        isna = pd.isna(kv)
        new = np.empty(n, dtype=bool)
        new[0] = True
        new[1:] = ~((kv[1:] == kv[:-1]) | (isna[1:] & isna[:-1]))
        starts = np.flatnonzero(new)
        lengths = np.diff(starts, append=n)
        lvl = np.empty(n, dtype=np.float64)
        tr = np.zeros(n, dtype=np.float64)
        lvl[starts] = vals[starts]
        for t in range(1, int(lengths.max())):
            act = starts[lengths > t] + t
            prev = act - 1
            lv = a * vals[act] + (1.0 - a) * (lvl[prev] + tr[prev])
            lvl[act] = lv
            tr[act] = b * (lv - lvl[prev]) + (1.0 - b) * tr[prev]
        pdf["level"], pdf["trend"] = lvl, tr
        yield pdf

    k_type = dict(prepared.dtypes)["_k"]
    res = (prepared.repartition("_k")
           .sortWithinPartitions("_k", "_ts", "_tb")
           .mapInPandas(
               smooth, f"_k {k_type}, _ts double, _tb long, _v double, "
                       "level double, trend double"))
    return res.select(F.col("_k").alias(key_col),
                      F.col("_tb").alias(tiebreak_col),
                      F.col("_v").alias("value"), "level", "trend",
                      (F.col("level") + F.col("trend"))
                      .alias("forecast_next"))


_TREND_LOCAL_MAX_PAIRS = 50_000_000


def trend_test(df: DataFrame, group_col: str, x_col: str,
               y_col: str, engine: str = "auto") -> DataFrame:
    """Per-group Theil–Sen slope + Mann–Kendall trend test →
    ``(group, n, n_pairs, s_stat, slope, z)``.

    - ``slope``: median of all pairwise slopes ``(y_j−y_i)/(x_j−x_i)``
      over ``x_i < x_j`` (Theil–Sen — up to ~29% outliers cannot move
      it, unlike OLS in :func:`~.analytics.grouped_linear_fit`).
    - ``s_stat``: MK ``S = Σ sign(y_j−y_i)``; ``z`` applies the
      continuity correction and the y-tie variance correction
      ``var = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18``.

    Pairs come from ONE group-keyed self-join (strict ``x_i < x_j``;
    equal-x pairs are skipped — their slope is undefined). Work is
    quadratic in GROUP size by definition of the statistic — bucket or
    subsample monster groups first (the classic guard; the statistic is
    rank-based, so uniform subsampling preserves it in expectation).

    The exact slope median runs as ONE windowed sort pass (row_number +
    count/sum over the group partition, keep the middle row(s), average)
    rather than ``percentile(_slope, 0.5)``: the percentile aggregate
    buffers every distinct slope in a per-group hashmap merged on a
    single reducer, while the sort pass streams through Tungsten's
    spillable external sorter — measured ~40% faster at 2.5M pairs
    (5.6 s → 3.3 s warm, sf0.1) and memory-safe when a group's pair
    count exceeds reducer heap. n_pairs/s_stat ride the same exchange
    (unbounded count/sum windows), so pairs are scanned once.
    ``slope``/``z`` round to 4 decimals; groups with <2 usable points
    yield null slope/z.
    """
    pts = (df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
           .select(F.col(group_col).alias("_g"),
                   F.col(x_col).cast("double").alias("_x"),
                   F.col(y_col).cast("double").alias("_y")))
    if engine == "auto":
        import os
        cap = local_cap("SPARK_GRAFT_TREND_LOCAL_MAX_PAIRS", _TREND_LOCAL_MAX_PAIRS)
        # one tiny two-phase aggregate: total pair count = Σ n·(n−1)/2
        probe = (pts.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
                 .agg(F.sum(F.col("_n") * (F.col("_n") - 1) / 2)
                      .alias("_p")).collect()[0]["_p"])
        engine = "kernel" if (probe or 0) <= cap else "join"
    if engine == "kernel":
        stats = _trend_stats_kernel(pts)
    elif engine == "join":
        stats = _trend_stats_join(pts)
    else:
        raise ValueError(f"engine must be 'auto', 'kernel' or 'join', "
                         f"got {engine!r}")

    n = F.col("n").cast("double")
    var = (n * (n - 1) * (2 * n + 5) - F.coalesce(F.col("_tc"),
                                                  F.lit(0.0))) / 18.0
    s = F.col("_ss").cast("double")
    z = F.when(s > 0, (s - 1) / F.sqrt(var)) \
         .when(s < 0, (s + 1) / F.sqrt(var)) \
         .otherwise(F.lit(0.0))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (stats
            .select(F.col("_g").alias(group_col), "n",
                    F.coalesce(F.col("_np"), F.lit(0)).alias("n_pairs"),
                    F.coalesce(F.col("_ss"), F.lit(0)).alias("s_stat"),
                    r4(F.col("_med")).alias("slope"),
                    F.when((F.coalesce(F.col("_np"), F.lit(0)) > 0)
                           & (var > 0), r4(z)).alias("z")))


def _trend_stats_join(pts: DataFrame) -> DataFrame:
    """Distributed engine: group-keyed pair self-join + windowed sort.

    The exact slope median runs as ONE windowed sort pass (row_number +
    count/sum over the group partition, keep the middle row(s), average)
    rather than ``percentile(_slope, 0.5)``: the percentile aggregate
    buffers every distinct slope in a per-group hashmap merged on a
    single reducer, while the sort pass streams through Tungsten's
    spillable external sorter — measured ~40% faster at 2.5M pairs and
    memory-safe when a group's pair count exceeds reducer heap.
    n_pairs/s_stat ride the same exchange. Returns per-group
    ``(_g, n, _np, _ss, _med, _tc)`` (null _np/_ss/_med when a group has
    no usable pair).
    """
    a, b = pts.alias("a"), pts.alias("b")
    pairs = (a.join(b, (F.col("a._g") == F.col("b._g"))
                    & (F.col("a._x") < F.col("b._x")))
             .select(F.col("a._g").alias("_g"),
                     ((F.col("b._y") - F.col("a._y"))
                      / (F.col("b._x") - F.col("a._x"))).alias("_slope"),
                     F.signum(F.col("b._y") - F.col("a._y"))
                     .cast("long").alias("_sgn")))
    w = Window.partitionBy("_g").orderBy("_slope")
    cw = Window.partitionBy("_g")
    ranked = pairs.select(
        "_g", "_slope",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(cw).alias("_np"),
        F.sum("_sgn").over(cw).alias("_ss"))
    # middle row for odd counts, both middles (averaged) for even —
    # same interpolation as percentile(0.5) / DuckDB median
    mid = ranked.filter(
        (F.col("_rn") == F.floor((F.col("_np") + 1) / 2))
        | (F.col("_rn") == F.floor(F.col("_np") / 2) + 1))
    pg = (mid.groupBy("_g").agg(
        F.first("_np").cast("long").alias("_np"),
        F.first("_ss").cast("long").alias("_ss"),
        F.avg("_slope").alias("_med"))
        .withColumnRenamed("_g", "_gp"))

    ng = pts.groupBy("_g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (pts.groupBy("_g", "_y")
            .agg(F.count(F.lit(1)).cast("double").alias("_t"))
            .groupBy("_g")
            .agg(F.sum(F.col("_t") * (F.col("_t") - 1)
                       * (2 * F.col("_t") + 5)).alias("_tc"))
            .withColumnRenamed("_g", "_gt"))
    return (ng.join(pg, F.col("_g") == F.col("_gp"), "left")
            .join(ties, F.col("_g") == F.col("_gt"), "left")
            .select("_g", "n", "_np", "_ss", "_med", "_tc"))


def _trend_stats_kernel(pts: DataFrame) -> DataFrame:
    """Single-pass engine: hash-partition by group, sort within
    partitions, and compute each group's pairwise-slope statistics in
    one vectorized numpy block per group — the pair set is never
    materialized through a shuffle (the old plan pushed ~n²/2 pair ROWS
    through an exchange + windowed sort to take a median of values that
    one task can enumerate with two outer subtractions). The arithmetic
    replays the join engine's IEEE ops elementwise: slope =
    ``(y_j−y_i)/(x_j−x_i)`` in float64, median = sort + middle
    average, ``S`` = integer sign sum, tie correction summed over
    exact-integer doubles — bit-identical outputs.

    A null group key matches the join engine's semantics: the equi-join
    never matches null, so the null group reports ``n`` with zero
    pairs, null slope/z.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = (pd.concat(pdfs, ignore_index=True)
               if len(pdfs) > 1 else pdfs[0].reset_index(drop=True))
        if not len(pdf):
            return
        kv = pdf["_g"].to_numpy()
        xs_all = pdf["_x"].to_numpy(dtype=np.float64)
        ys_all = pdf["_y"].to_numpy(dtype=np.float64)
        nrows = len(pdf)
        isna = pd.isna(kv)
        new = np.empty(nrows, dtype=bool)
        new[0] = True
        new[1:] = ~((kv[1:] == kv[:-1]) | (isna[1:] & isna[:-1]))
        starts = np.flatnonzero(new)
        ends = np.append(starts[1:], nrows)
        out = {"_g": [], "n": [], "_np": [], "_ss": [], "_med": [],
               "_tc": []}
        for s0, e0 in zip(starts, ends):
            xs, ys = xs_all[s0:e0], ys_all[s0:e0]
            n = e0 - s0
            _, cnt = np.unique(ys, return_counts=True)
            t = cnt.astype(np.float64)
            tc = float((t * (t - 1.0) * (2.0 * t + 5.0)).sum())
            out["_g"].append(kv[s0])
            out["n"].append(n)
            out["_tc"].append(tc)
            if isna[s0] or n < 2:
                # null keys never equi-join; <2 points have no pairs
                out["_np"].append(0)
                out["_ss"].append(0)
                out["_med"].append(None)
                continue
            order = np.argsort(xs, kind="stable")
            xs, ys = xs[order], ys[order]
            slopes, ssum, npairs = [], 0, 0
            # chunk the outer dimension so temporaries stay ~O(chunk·n)
            step = max(1, int(4_000_000 // max(n, 1)))
            for i0 in range(0, n, step):
                dx = xs[None, :] - xs[i0:i0 + step, None]
                dy = ys[None, :] - ys[i0:i0 + step, None]
                m = dx > 0
                npairs += int(m.sum())
                ssum += int(np.sign(dy[m]).sum())
                slopes.append(dy[m] / dx[m])
            out["_np"].append(npairs)
            out["_ss"].append(ssum)
            if npairs == 0:
                out["_med"].append(None)
                continue
            sl = np.sort(np.concatenate(slopes))
            if npairs % 2:
                med = float(sl[(npairs - 1) // 2])
            else:
                # Spark avg over the two middle rows = (a+b)/2
                med = float((sl[npairs // 2 - 1] + sl[npairs // 2]) / 2.0)
            out["_med"].append(med)
        res = pd.DataFrame({
            "_g": pd.Series(out["_g"], dtype=pdf["_g"].dtype),
            "n": pd.Series(out["n"], dtype="int64"),
            "_np": pd.Series(out["_np"], dtype="int64"),
            "_ss": pd.Series(out["_ss"], dtype="int64"),
            "_med": pd.Series(out["_med"], dtype="Float64"),
            "_tc": pd.Series(out["_tc"], dtype="float64"),
        })
        yield res

    g_type = dict(pts.dtypes)["_g"]
    return (pts.repartition("_g")
            .sortWithinPartitions("_g", "_x", "_y")
            .mapInPandas(kernel,
                         f"_g {g_type}, n long, _np long, _ss long, "
                         "_med double, _tc double"))


def seasonal_decompose(df: DataFrame, key_col: str, order_cols: Sequence[str],
                       value_col: str, period: int) -> DataFrame:
    """Additive seasonal decomposition per key →
    ``(key, order_cols..., value, trend, seasonal, residual)`` with
    ``value = trend + seasonal + residual`` exactly (residual is the
    remainder by construction).

    Classical moving-average method: ``trend`` is a centered rolling
    mean over ``period`` rows (period must be ODD for a symmetric
    window; edges average the available rows — partial-window
    semantics, mirrored by the SQL oracle); ``seasonal`` is the per-key,
    per-phase (row index mod period) mean of the detrended series,
    row-weighted mean-centered per key so the components are
    identifiable. ALL steps are windows sharing the hash(key) exchange
    plus one (key, phase) aggregate window — no joins, one scan.
    Rows with null values keep null components. Rounds trend/seasonal
    to 4 decimals; residual = value − trend − seasonal on the ROUNDED
    parts (so the identity survives the rounding contract).
    """
    if period < 3 or period % 2 == 0:
        raise ValueError(f"period must be an odd integer >= 3, got {period}")
    h = period // 2
    w_ord = Window.partitionBy(key_col).orderBy(*order_cols)
    w_tr = w_ord.rowsBetween(-h, h)
    x = F.col(value_col).cast("double")
    base = df.select(key_col, *order_cols, value_col).withColumn(
        "_idx", F.row_number().over(w_ord) - 1).withColumn(
        "_trend", F.avg(x).over(w_tr))
    base = base.withColumn("_det", x - F.col("_trend"))
    w_ph = Window.partitionBy(key_col, F.col("_idx") % period)
    w_key = Window.partitionBy(key_col)
    sm = F.avg("_det").over(w_ph)
    base = base.withColumn("_sm", sm).withColumn(
        "_seasonal", F.col("_sm") - F.avg("_sm").over(w_key))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    tr, se = r4(F.col("_trend")), r4(F.col("_seasonal"))
    return base.select(
        key_col, *order_cols, x.alias("value"),
        tr.alias("trend"), se.alias("seasonal"),
        (x - tr - se + F.lit(0.0)).alias("residual"))


def nelson_aalen(df: DataFrame, duration_col: str, event_col: str,
                 digits: int = 6) -> DataFrame:
    """Nelson–Aalen cumulative hazard — the censoring-aware companion of
    :func:`kaplan_meier`: ``H(t) = Σ_{t_i ≤ t} d_i / n_i`` over distinct
    event times, with censored rows (``event_col`` false) leaving the
    risk set without counting as events. Returns one row per distinct
    quantized duration: ``(duration, n_risk, n_event, n_censored,
    cum_hazard)`` (hazard rounded to 4 decimals).

    Same shape as KM: durations quantize to ``digits`` decimals, ONE
    groupBy(duration) bounds the ordered windows to distinct times.
    """
    if digits < 0:
        raise ValueError("digits must be >= 0")
    q = F.round(F.col(duration_col).cast("double") * (10 ** digits)) \
        / (10 ** digits)
    ev = F.col(event_col).cast("boolean").cast("long")
    g = (df.filter(F.col(duration_col).isNotNull()
                   & F.col(event_col).isNotNull())
         .groupBy(q.alias("duration"))
         .agg(F.sum(ev).cast("long").alias("n_event"),
              F.sum(1 - ev).cast("long").alias("n_censored"),
              F.count(F.lit(1)).cast("long").alias("_n")))
    w = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, 0)
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1)
    total = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    n_risk = (F.sum("_n").over(total)
              - F.coalesce(F.sum("_n").over(w_prev), F.lit(0))).cast("long")
    g = g.withColumn("n_risk", n_risk)
    hz = F.sum(F.col("n_event").cast("double")
               / F.col("n_risk")).over(w)
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return g.select("duration", "n_risk", "n_event", "n_censored",
                    r4(hz).alias("cum_hazard"))


def changepoint_by_key(df: DataFrame, key_col: str,
                       order_cols: Sequence[str], value_col: str,
                       min_seg: int = 2) -> DataFrame:
    """Best single mean-shift changepoint per key (the first step of
    binary segmentation, Scott & Knott 1974): the split ``t`` that
    maximizes the SSE reduction

        gain(t) = SST − SSE(1..t) − SSE(t+1..n)

    over ``min_seg ≤ t ≤ n − min_seg`` → ``(key, n, split_after,
    gain, mean_left, mean_right)``; keys too short for any valid split
    are omitted.  ``split_after`` = size of the left segment, ties on
    (1e-6-rounded) gain break to the SMALLEST t — rounding before the
    argmax keeps the winner reproducible across engines.

    All O(n) via running sums: one key-ordered cumulative window
    provides every candidate's left/right sums-of-squares in closed
    form; no per-candidate rescan, no driver loop.  The prefix sums run
    over MEAN-CENTERED values (gain is translation-invariant, so the
    result is mathematically identical, but centering first removes the
    ``Σv² − (Σv)²/t`` cancellation that loses digits when the series
    mean dwarfs its variation — timestamps, revenue-in-cents; round-7
    conditioning fix).  The series per key must be bounded
    (pre-aggregate with :func:`bucket_aggregate` or an hourly roll-up
    first — the pattern every per-key window operator here uses);
    ordering over ``order_cols`` must be a total order within a key for
    a deterministic result.
    """
    if min_seg < 1:
        raise ValueError(f"min_seg must be >= 1, got {min_seg}")
    order = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = (Window.partitionBy(key_col)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    v = F.col(value_col).cast("double")
    d = F.col("_d")
    base = (df.filter(v.isNotNull())
            .withColumn("_t", F.row_number().over(w).cast("long"))
            .withColumn("_n", F.count(F.lit(1)).over(wall))
            .withColumn("_mu", F.avg(v).over(wall))
            .withColumn("_d", v - F.col("_mu"))
            .withColumn("_cs", F.sum(d).over(wc))
            .withColumn("_css", F.sum(d * d).over(wc))
            .withColumn("_s", F.sum(d).over(wall))
            .withColumn("_ss", F.sum(d * d).over(wall)))
    t = F.col("_t").cast("double")
    n = F.col("_n").cast("double")
    nr = n - t
    sse_l = F.col("_css") - F.col("_cs") * F.col("_cs") / t
    sse_r = (F.col("_ss") - F.col("_css")
             - (F.col("_s") - F.col("_cs"))
             * (F.col("_s") - F.col("_cs")) / nr)
    sst = F.col("_ss") - F.col("_s") * F.col("_s") / n
    cands = (base.filter((F.col("_t") >= int(min_seg))
                         & (F.col("_t") <= F.col("_n") - int(min_seg)))
             .withColumn("_gain",
                         F.round((sst - sse_l - sse_r) * 1e6) / 1e6)
             .withColumn("_ml", F.col("_mu") + F.col("_cs") / t)
             .withColumn("_mr",
                         F.col("_mu") + (F.col("_s") - F.col("_cs")) / nr))
    wbest = Window.partitionBy(key_col).orderBy(F.desc("_gain"),
                                                F.asc("_t"))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (cands.withColumn("_rk", F.row_number().over(wbest))
            .filter(F.col("_rk") == 1)
            .select(F.col(key_col).alias("key"),
                    F.col("_n").cast("long").alias("n"),
                    F.col("_t").alias("split_after"),
                    r4(F.col("_gain")).alias("gain"),
                    r4(F.col("_ml")).alias("mean_left"),
                    r4(F.col("_mr")).alias("mean_right")))


def logrank_test(df: DataFrame, duration_col: str, event_col: str,
                 group_col: str, group_a, group_b,
                 digits: int = 6) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966) — "do these two survival
    curves differ?", censoring-aware like :func:`kaplan_meier`: at each
    distinct event time pool both groups and compare group A's observed
    events with its at-risk-proportional expectation,

        E1(t) = d(t)·n1(t)/n(t)
        V(t)  = d(t)·(n1/n)·(1−n1/n)·(n−d)/(n−1)
        z     = (Σd1 − ΣE1) / √ΣV,   χ² = z²

    → one row ``(n_times, o1, e1, v, z, chi2)``.  Rows outside the two
    groups are ignored; censored rows leave the risk set silently.

    Same shape discipline as KM: durations quantize to ``digits``
    decimals, ONE groupBy(duration) produces per-time per-group
    leaving/event counts, at-risk comes from the total-minus-cumsum
    window over the bounded distinct-time table, and the test is one
    final aggregate.  Degenerate inputs (no event times, zero variance)
    return null z/chi2 rather than failing.
    """
    scale = float(10 ** digits)
    dur = F.round(F.col(duration_col).cast("double") * scale) / scale
    ev = F.col(event_col).cast("boolean")
    ga = F.col(group_col) == F.lit(group_a)
    gb = F.col(group_col) == F.lit(group_b)
    rows = df.filter(dur.isNotNull() & ev.isNotNull() & (ga | gb))
    per_t = (rows.groupBy(dur.alias("_t"))
             .agg(F.sum(ga.cast("long")).alias("_l1"),
                  F.sum((ga & ev).cast("long")).alias("_d1"),
                  F.sum(gb.cast("long")).alias("_l2"),
                  F.sum((gb & ev).cast("long")).alias("_d2")))
    w_ord = Window.orderBy("_t")
    w_all = w_ord.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)

    def at_risk(leave_col):
        return (F.sum(leave_col).over(w_all)
                - F.coalesce(F.sum(leave_col).over(w_prev), F.lit(0)))

    staged = per_t.select(
        "_t", "_d1", "_d2",
        at_risk("_l1").alias("_n1"), at_risk("_l2").alias("_n2"))
    n1 = F.col("_n1").cast("double")
    nt = (F.col("_n1") + F.col("_n2")).cast("double")
    dt = (F.col("_d1") + F.col("_d2")).cast("double")
    e1 = dt * n1 / nt
    v = F.when(nt > 1.0,
               dt * (n1 / nt) * (F.lit(1.0) - n1 / nt)
               * (nt - dt) / (nt - F.lit(1.0))).otherwise(F.lit(0.0))
    terms = (staged.filter((F.col("_d1") + F.col("_d2")) >= 1)
             .select(F.col("_d1").alias("_o1"), e1.alias("_e1"),
                     v.alias("_v")))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    agg = terms.agg(F.count(F.lit(1)).cast("long").alias("n_times"),
                    F.sum("_o1").cast("long").alias("o1"),
                    F.sum("_e1").alias("_se1"),
                    F.sum("_v").alias("_sv"))
    ok = (F.col("n_times") > 0) & (F.col("_sv") > F.lit(1e-12))
    z = (F.col("o1").cast("double") - F.col("_se1")) / F.sqrt("_sv")
    return agg.select(
        "n_times", "o1",
        r4(F.col("_se1")).alias("e1"),
        r4(F.col("_sv")).alias("v"),
        F.when(ok, r4(z)).alias("z"),
        F.when(ok, r4(z * z)).alias("chi2"))


def seasonal_anomalies(df: DataFrame, key_col: str,
                       order_cols: Sequence[str], value_col: str,
                       period: int, z_thresh: float = 3.5) -> DataFrame:
    """Seasonality-aware anomaly flags: :func:`seasonal_decompose`
    residuals scored with per-key median/MAD robust z
    (features.robust_zscores) and filtered at ``|z| > z_thresh`` →
    ``(key, *order_cols, value, residual, robust_z)``.  Catches points
    that are normal in LEVEL but wrong for their phase (a quiet Sunday
    spike a global threshold misses) while ignoring trend drift.
    Pure composition — decompose windows + two grouped percentile
    aggregates; nothing new shuffles.  Keys with MAD = 0 produce no
    flags (null scores, the try_divide contract).
    """
    from .features import robust_zscores

    dec = seasonal_decompose(df, key_col, order_cols, value_col, period)
    scored = robust_zscores(dec, "residual", group_col=key_col)
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return (scored.filter(F.abs(F.col("robust_z")) > float(z_thresh))
            .select(key_col, *order_cols, "value", "residual",
                    r4(F.col("robust_z")).alias("robust_z")))


def dominant_period(df: DataFrame, key_col: str,
                    order_cols: Sequence[str], value_col: str,
                    max_lag: int = 24) -> DataFrame:
    """Dominant seasonality per key: the autocorrelation-maximizing lag
    over ``1..max_lag`` (the standard period detector — pick the ACF
    peak) → ``(key, lag, acf, n)`` with ties on the 1e-6-rounded ACF
    breaking to the SMALLEST lag.  Pure composition over
    :func:`acf_by_key`; one extra per-key window picks the argmax, so
    the cost profile is exactly ACF's (per-key ordered windows over
    bounded series — pre-aggregate long series first).
    """
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    acf = acf_by_key(df, key_col, order_cols, value_col,
                     lags=list(range(1, max_lag + 1)))
    w = Window.partitionBy(key_col).orderBy(
        F.desc(F.round(F.col("acf") * 1e6) / 1e6), F.asc("lag"))
    return (acf.filter(F.col("acf").isNotNull())
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk"))


def event_disorder(df: DataFrame, key_col: str, arrival_col: str,
                   ts_col: str) -> DataFrame:
    """Out-of-orderness profile per key — the measurement that SETS a
    stream's watermark delay honestly instead of guessing: replay events
    in ARRIVAL order (``arrival_col`` — an ingest offset / log sequence
    number), and for each event measure how far its event-time lags the
    running event-time high-water mark:

        lateness = max(ts of earlier arrivals) − ts    (0 if in order)

    → ``(key, n, n_late, late_share, p50_late_s, p99_late_s,
    max_late_s)`` with exact interpolated percentiles over the LATE
    events only.  ``allowed lateness ≥ p99_late_s`` then bounds dropped
    rows to ~1% at the observed disorder.

    One key-partitioned arrival-ordered window (running max + lag
    shape), one grouped aggregate.  A key's arrival history must fit a
    task — for unbounded keys pass a composite key (key, arrival-day):
    disorder is measured within a bounded replay window anyway.
    """
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(arrival_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    t = F.col(ts_col).cast("double")
    hw = F.max(t).over(w)
    late = F.when(hw.isNotNull() & (hw > t), hw - t).otherwise(F.lit(0.0))
    base = df.filter(t.isNotNull()).withColumn("_late", late)
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    lv = F.when(F.col("_late") > 0, F.col("_late"))
    qs = F.percentile(lv, F.array(F.lit(0.5), F.lit(0.99)))
    return (base.groupBy(F.col(key_col).alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum((F.col("_late") > 0).cast("long")).cast("long")
                 .alias("n_late"),
                 r4(F.sum((F.col("_late") > 0).cast("long")).cast("double")
                    / F.count(F.lit(1)).cast("double")).alias("late_share"),
                 r4(qs[0]).alias("p50_late_s"),
                 r4(qs[1]).alias("p99_late_s"),
                 r4(F.max(lv)).alias("max_late_s")))


def active_users(df: DataFrame, ts_col: str, user_col: str,
                 windows: Sequence[int] = (1, 7, 28)) -> DataFrame:
    """Rolling exact distinct-actives per day — DAU/WAU/MAU in one pass
    → ``(day, au_1, au_7, au_28, ...)`` (one ``au_w`` column per
    requested trailing-window length in days).

    The scale trick: distinct (user, day) FIRST (one partial-agg
    distinct collapses the event stream to at most |users|×|days|
    rows), then each user-day replicates to the ≤ max(windows) target
    days it keeps the user active for (one bounded explode — the
    standard "sliding distinct-count via contribution expansion"), and
    one groupBy(day, window) counts distinct users.  No per-day
    re-scan, no window over raw events, exact counts (the HLL timeline
    in :mod:`.sketch` is the approximate cousin for when user-days
    don't fit).  Reported days are exactly the OBSERVED days (a
    semi-join against the distinct-day table trims the contribution
    tail that would otherwise report phantom days past the data's
    end); observed days with no active users in a window can't exist
    by construction (the day itself contributes).
    """
    ws = sorted(set(int(w) for w in windows))
    if not ws or ws[0] < 1:
        raise ValueError("windows must be positive integers")
    wmax = ws[-1]
    ud = (df.filter(F.col(ts_col).isNotNull()
                    & F.col(user_col).isNotNull())
          .select(F.date_trunc("day", F.col(ts_col)).alias("_d"),
                  F.col(user_col).alias("_u"))
          .distinct())
    # replicate each user-day to every day within max-window reach, tag
    # each target day with the offset, then count per window by offset cut
    off = F.explode(F.sequence(F.lit(0), F.lit(wmax - 1))).alias("_k")
    tgt = ud.select("_u", "_d", off).select(
        "_u", "_k", F.date_add(F.col("_d").cast("date"), F.col("_k"))
        .alias("day"))
    observed = ud.select(F.col("_d").cast("date").alias("day")).distinct()
    aggs = [F.count_distinct(F.when(F.col("_k") < w, F.col("_u")))
            .cast("long").alias(f"au_{w}") for w in ws]
    return (tgt.join(observed, "day", "left_semi")
            .groupBy("day").agg(*aggs)
            .withColumn("day", F.col("day").cast("timestamp")))


def period_over_period(df: DataFrame, key_col: str, ts_col: str,
                       value_col: str, period: str = "week") -> DataFrame:
    """Period-over-period change per key — the WoW/MoM report: bucket to
    ``period`` (any ``date_trunc`` unit), sum the value, and compare
    each bucket with the key's PREVIOUS bucket → ``(key, period_start,
    total, prev_total, change, pct_change)`` (floats 4 decimals;
    ``pct_change`` null when the previous total is 0 or the bucket is
    the key's first).

    "Previous" means the previous EXISTING bucket for that key (lag
    over the aggregated bucket table — gaps compare across the gap;
    run :func:`gapfill` first for calendar-strict comparison).  One
    groupBy + one key-partitioned lag window over the bounded bucket
    table.
    """
    b = F.date_trunc(period, F.col(ts_col))
    g = (df.filter(F.col(ts_col).isNotNull())
         .groupBy(F.col(key_col).alias("key"),
                  b.alias("period_start"))
         .agg(F.sum(F.col(value_col).cast("double")).alias("_tot")))
    w = Window.partitionBy("key").orderBy("period_start")
    prev = F.lag("_tot").over(w)
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    return g.select(
        "key", "period_start", r4(F.col("_tot")).alias("total"),
        r4(prev).alias("prev_total"),
        r4(F.col("_tot") - prev).alias("change"),
        F.when(F.abs(prev) > 0,
               r4((F.col("_tot") - prev) / prev * 100.0))
        .alias("pct_change"))


def cohort_ltv(df: DataFrame, ts_col: str, user_col: str,
               value_col: str, max_age: int = 8,
               period: str = "week") -> DataFrame:
    """Cohort lifetime-value curve — the revenue companion of
    :func:`retention_cohorts`: users cohorted by first-activity period,
    each cohort's per-user CUMULATIVE value tracked by age →
    ``(cohort, age, n_users, period_value, cum_value, cum_per_user)``
    for ages 0..``max_age`` (floats 4 decimals).

    Shape: one min-aggregation pins each user's cohort, one equi-join
    tags every event, one groupBy(cohort, age) sums the period value,
    and the cumulative ride is an ordered window over the bounded
    cohort×age table.  Ages beyond ``max_age`` are dropped (bounds the
    report, not the scan).  Cohort size counts DISTINCT users in the
    cohort (denominator fixed at age 0 — standard LTV convention).
    """
    if max_age < 0:
        raise ValueError(f"max_age must be >= 0, got {max_age}")
    b = F.date_trunc(period, F.col(ts_col))
    ev = (df.filter(F.col(ts_col).isNotNull()
                    & F.col(user_col).isNotNull())
          .select(F.col(user_col).alias("_u"), b.alias("_p"),
                  F.col(value_col).cast("double").alias("_v")))
    first = ev.groupBy("_u").agg(F.min("_p").alias("cohort"))
    sizes = (first.groupBy("cohort")
             .agg(F.count(F.lit(1)).cast("long").alias("n_users")))
    unit = {"week": 7 * 86400, "day": 86400}.get(period)
    if unit is None:
        raise ValueError("period must be 'week' or 'day'")
    age = F.floor((F.col("_p").cast("double")
                   - F.col("cohort").cast("double")) / float(unit)) \
           .cast("long")
    per = (ev.join(first, "_u")
           .withColumn("_age", age)
           .filter(F.col("_age") <= int(max_age))
           .groupBy("cohort", F.col("_age").alias("age"))
           .agg(F.sum("_v").alias("_pv")))
    w = (Window.partitionBy("cohort").orderBy("age")
         .rowsBetween(Window.unboundedPreceding, 0))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    cum = F.sum("_pv").over(w)
    return (per.join(sizes, "cohort")
            .select("cohort", "age", "n_users",
                    r4(F.col("_pv")).alias("period_value"),
                    r4(cum).alias("cum_value"),
                    r4(cum / F.col("n_users").cast("double"))
                    .alias("cum_per_user")))
