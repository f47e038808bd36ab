"""Event-stream window aggregations: tumbling, sliding (hopping), sessions.

The reference has no streaming surface at all (SURVEY §2.9); these are the
idiomatic Structured-Streaming equivalents mandated by the build plan
(SURVEY §7 phase E), designed batch-first: every aggregation is defined once
as a DataFrame transform that works identically on a static frame and on a
``readStream`` source — the Structured Streaming model's core property.

Scale notes: windowed aggregations shuffle on (window, key) with map-side
partial aggregation; watermarks bound state for streaming mode; session
windows in batch mode use the lag/cumsum pattern (two window functions over
(user, time) — one shuffle), and in streaming mode Spark's native
``session_window``.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F


def tumbling_agg(events: DataFrame, duration: str = "1 hour",
                 ts_col: str = "ts", key_col: str = "event_type",
                 value_col: str = "value") -> DataFrame:
    """Tumbling-window counts and sums per key.

    Works on static and streaming frames alike (``F.window`` is the same op).
    """
    return (
        events.groupBy(F.window(ts_col, duration).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
            F.avg(value_col).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col, "n_events", "sum_value", "avg_value",
        )
    )


def sliding_agg(events: DataFrame, duration: str = "6 hours",
                slide: str = "1 hour", ts_col: str = "ts",
                key_col: str = "event_type", value_col: str = "value") -> DataFrame:
    """Sliding (hopping) window counts/sums per key."""
    return (
        events.groupBy(F.window(ts_col, duration, slide).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col, "n_events", "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800,
               ts_col: str = "ts", user_col: str = "user_id",
               value_col: str = "value",
               order_tiebreak: Optional[str] = "event_id") -> DataFrame:
    """Batch sessionization: a new session starts when the gap to the previous
    event of the same user exceeds ``gap_seconds``.

    The classic lag → is-new flag → running-sum session id pattern; both
    window functions share one (user, time) sort so it costs a single
    shuffle. Returns one row per session.
    """
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w_seq = Window.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w_seq)
    # cast timestamp → double keeps fractional seconds (unix_timestamp would
    # truncate to whole seconds and mis-split sessions at sub-second gaps)
    is_new = (
        prev_ts.isNull()
        | ((F.col(ts_col).cast("double") - prev_ts.cast("double")) > gap_seconds)
    ).cast("long")
    with_session = events.withColumn(
        "_session_id",
        F.sum(is_new).over(w_seq.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_session.groupBy(user_col, "_session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .drop("_session_id")
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes",
                       ts_col: str = "ts", user_col: str = "user_id",
                       value_col: str = "value") -> DataFrame:
    """Sessionization via Spark's native ``session_window`` — one row per
    session with start/end/count/sum.

    Same output shape as :func:`sessionize` with one boundary difference:
    ``session_window`` closes a session when the gap is ``>= gap`` (window
    intervals are ``[start, end)`` with ``end = last_ts + gap``), while
    :func:`sessionize` splits on strictly ``> gap``. Events exactly at the
    boundary are vanishingly rare with sub-second timestamps; pick by mode:
    this form is the one that also runs on a ``readStream`` frame (native
    streaming state), the lag/cumsum form is the batch-SQL-portable one.
    """
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap).alias("w"),
                       F.col(user_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events", "sum_value",
        )
    )


def stream_tumbling_counts(spark, source_path: str, schema,
                           duration: str = "1 hour",
                           watermark: str = "30 minutes",
                           ts_col: str = "ts", key_col: str = "event_type",
                           value_col: str = "value",
                           **reader_options) -> DataFrame:
    """Streaming twin of :func:`tumbling_agg` over a file source.

    Late data beyond ``watermark`` is dropped and window state is bounded —
    the standard production shape. Extra ``reader_options`` pass through to
    the file source (e.g. ``maxFilesPerTrigger=1`` to force one micro-batch
    per file, which is also what lets the watermark advance between files).
    Consume with e.g.::

        q = (stream_tumbling_counts(spark, path, schema)
             .writeStream.format("memory").queryName("agg")
             .outputMode("complete").trigger(availableNow=True).start())
    """
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .options(**{k: str(v) for k, v in reader_options.items()})
        .load(source_path)
        .withWatermark(ts_col, watermark)
    )
    return tumbling_agg(stream, duration, ts_col, key_col, value_col)


def session_funnel(events: DataFrame, stages: Sequence[str] = ("view", "click", "purchase"),
                   gap_seconds: int = 1800, ts_col: str = "ts",
                   user_col: str = "user_id", type_col: str = "event_type",
                   order_tiebreak: Optional[str] = "event_id") -> DataFrame:
    """Session-level presence funnel: how many sessions contain stage 1, how
    many contain stages 1 AND 2, … through the full ordered stage list —
    the classic conversion query (view → click → purchase) over gap-based
    sessions.

    Presence semantics (stage events may occur in any order inside the
    session) — the robust default when event clocks jitter; all outputs are
    session COUNTS (longs), no float plumbing. One (user, time) window sort
    assigns session ids (same single shuffle as :func:`sessionize`), one
    groupBy flags each session's stages, one tiny aggregate counts depths.
    Returns ``(depth, stage, n_sessions)`` with depth 1..len(stages);
    ``n_sessions`` is non-increasing in depth.
    """
    if not stages:
        raise ValueError("stages must be a non-empty sequence")
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w_seq = Window.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w_seq)
    is_new = (
        prev_ts.isNull()
        | ((F.col(ts_col).cast("double") - prev_ts.cast("double")) > gap_seconds)
    ).cast("long")
    with_session = events.withColumn(
        "_sid", F.sum(is_new).over(w_seq.rowsBetween(Window.unboundedPreceding, 0)))
    flags = with_session.groupBy(user_col, "_sid").agg(*[
        F.max(F.when(F.col(type_col) == s, 1).otherwise(0)).alias(f"_s{i}")
        for i, s in enumerate(stages)])
    depth_counts = flags.agg(*[
        F.sum(F.when(
            sum((F.col(f"_s{j}") for j in range(i + 1)), F.lit(0)) == i + 1,
            1).otherwise(0)).cast("long").alias(f"_d{i}")
        for i in range(len(stages))])
    row = depth_counts.first()
    out = [(i + 1, s, int(row[f"_d{i}"] or 0)) for i, s in enumerate(stages)]
    return events.sparkSession.createDataFrame(
        out, "depth int, stage string, n_sessions long")


def sessionize_capped(events: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts", tiebreak_col: str = "event_id",
                      gap_seconds: int = 1800,
                      max_session_seconds: int = 14400) -> DataFrame:
    """Sessionization with BOTH an inactivity gap and a max-duration cap:
    a new session starts when the gap from the previous event exceeds
    ``gap_seconds`` OR the event sits more than ``max_session_seconds``
    after its session's FIRST event (the real-world "split after 24 h"
    rule analytics warehouses apply).

    Unlike the pure-gap rule (a lag/cumsum window — :func:`sessionize`),
    the cap makes assignment inherently sequential: whether an event
    opens a session depends on where the previous session STARTED, which
    itself depends on every assignment before it. No fixed-depth window
    expresses that. Like the r12 timeseries kernels (ewma/cusum/holt),
    it runs as ONE ``mapInPandas`` kernel per partition,
    hash-partitioned by key and sorted by (key, ts, tiebreak), the
    recurrence advancing STEP-VECTORIZED with the identical comparison
    sequence per key (``t − prev > gap``, ``t − start > cap``) — a
    per-KEY ``applyInPandas`` paid one Python call + one pandas frame
    per key, which WAS the whole cost on many-key corpora. Returns
    ``(key_col, tiebreak_col, session_id)`` with 1-based per-key ids.
    """
    import numpy as np

    from ..operators.timeseries import _collect_sorted_partition, _key_runs

    prepared = events.select(
        F.col(key_col).alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
    ).filter(F.col("_ts").isNotNull())

    gap, cap = float(gap_seconds), float(max_session_seconds)

    def assign(batches):
        pdf = _collect_sorted_partition(batches)
        if pdf is None:
            return
        ts = pdf["_ts"].to_numpy(dtype=np.float64)
        starts, lengths = _key_runs(pdf["_k"].to_numpy())
        n = len(pdf)
        sess = np.empty(n, dtype=np.int64)
        st = np.empty(n, dtype=np.float64)
        sess[starts] = 1
        st[starts] = ts[starts]
        for step in range(1, int(lengths.max())):
            act = starts[lengths > step] + step
            prev = act - 1
            new = ((ts[act] - ts[prev] > gap)
                   | (ts[act] - st[prev] > cap))
            sess[act] = sess[prev] + new
            st[act] = np.where(new, ts[act], st[prev])
        pdf["session_id"] = sess
        yield pdf

    tb_type = dict(prepared.dtypes)["_tb"]
    res = (prepared.repartition("_k")
           .sortWithinPartitions("_k", "_ts", "_tb")
           .mapInPandas(assign,
                        f"_k {dict(prepared.dtypes)['_k']}, _ts double, "
                        f"_tb {tb_type}, session_id long"))
    return res.select(F.col("_k").alias(key_col),
                      F.col("_tb").alias(tiebreak_col), "session_id")


def enrich_stream(events: DataFrame, dim: DataFrame, on: str,
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment: join a (possibly streaming) event frame
    against a static dimension table — THE standard Structured Streaming
    pattern for attaching user/item attributes at ingest. The static
    side is re-scanned per micro-batch (Spark's stream-static contract,
    so slowly-changing dimensions pick up updates between batches) and
    broadcast when small; the stream side never buffers state for this
    join. Works identically on batch frames (same plan, no stream
    machinery) — the batch-parity test runs both. Inner and left joins
    only: right/full against a stream would need unbounded state and
    raise in Spark anyway."""
    if how not in ("left", "inner"):
        raise ValueError(f"stream-static join supports left/inner, got {how}")
    return events.join(dim, [on], how)


def window_funnel(events: DataFrame, stages: Sequence[str],
                  horizon_seconds: float, ts_col: str = "ts",
                  user_col: str = "user_id", type_col: str = "event_type",
                  order_tiebreak: str = "event_id") -> DataFrame:
    """STRICT-ORDER time-bounded funnel (the ClickHouse ``windowFunnel``
    semantics, complementing the presence-based :func:`session_funnel`):
    per user, the depth is the longest stage prefix reachable by picking,
    greedily, the EARLIEST stage-1 event and then each next stage's
    earliest event at-or-after the previous stage, all within
    ``horizon_seconds`` of the stage-1 anchor. Returns one row per user
    that reached at least stage 1: ``(user, depth, t_first, t_last)``
    (epoch seconds, rounded to 6 decimals).

    Execution: k−1 chained min-aggregates — stage i's events equi-join
    the stage-(i−1) frontier on the user key and take the per-user min
    timestamp within the window. Every join/aggregate keys on the user;
    the per-stage event slices are filtered BEFORE joining, so each pass
    touches only that stage's rows, never the full log. Greedy-earliest
    is optimal here: picking any later stage-i event can only shrink
    what remains reachable (exchange argument), so the depth is exact.
    Ties at the same timestamp break by ``order_tiebreak`` (events with
    equal (ts, tiebreak) — duplicates — behave as one).
    """
    if not stages:
        raise ValueError("stages must be a non-empty sequence")
    if horizon_seconds <= 0:
        raise ValueError("horizon_seconds must be positive")
    t = F.col(ts_col).cast("double")
    tb = F.col(order_tiebreak).cast("double")
    # (ts, tiebreak) packed as a struct for lexicographic min
    ev = events.select(
        F.col(user_col).alias("_u"), F.col(type_col).alias("_e"),
        F.struct(t.alias("t"), tb.alias("b")).alias("_k"))

    frontier = (ev.filter(F.col("_e") == stages[0])
                .groupBy("_u").agg(F.min("_k").alias("_k1"))
                .select("_u", F.col("_k1").alias("_anchor"),
                        F.col("_k1").alias("_cur"),
                        F.lit(1).cast("long").alias("depth")))
    for i, s in enumerate(stages[1:], start=1):
        nxt = ev.filter(F.col("_e") == s).select(
            F.col("_u").alias("_un"), F.col("_k").alias("_kn"))
        # only users exactly at depth i may take stage i+1 — a user stuck
        # earlier must not skip ahead on a later stage's event
        step = (frontier.filter(F.col("depth") == i)
                .join(nxt, F.col("_u") == F.col("_un"))
                .filter((F.col("_kn") > F.col("_cur"))
                        & (F.col("_kn.t") <= F.col("_anchor.t")
                           + F.lit(float(horizon_seconds))))
                .groupBy("_u")
                .agg(F.min("_anchor").alias("_anchor"),
                     F.min("_kn").alias("_next")))
        advanced = step.select(
            "_u", "_anchor", F.col("_next").alias("_cur"))
        frontier = (frontier.join(
            advanced.select(F.col("_u").alias("_ua"),
                            F.col("_cur").alias("_cura")),
            F.col("_u") == F.col("_ua"), "left")
            .select("_u", "_anchor",
                    F.coalesce(F.col("_cura"), F.col("_cur")).alias("_cur"),
                    (F.col("depth")
                     + F.when(F.col("_cura").isNotNull(), 1).otherwise(0))
                    .alias("depth")))
    r6 = lambda e: F.round(e * 1e6) / 1e6 + F.lit(0.0)  # noqa: E731
    return frontier.select(
        F.col("_u").alias(user_col), "depth",
        r6(F.col("_anchor.t")).alias("t_first"),
        r6(F.col("_cur.t")).alias("t_last"))


def top_paths(events: DataFrame, gap_seconds: int = 1800,
              max_len: int = 5, k: int = 20, ts_col: str = "ts",
              user_col: str = "user_id", event_col: str = "event_type",
              tiebreak_col: str = "event_id") -> DataFrame:
    """Most common session journeys: sessionize (same gap rule as
    :func:`sessionize`), take each session's first ``max_len`` events in
    (ts, tiebreak) order, render the journey as ``'a>b>c'``, and return
    the top-``k`` paths by frequency → ``(path, n_sessions, rnk)``
    ordered by (count desc, path asc) — deterministic under ties.

    The path-mining staple for onboarding/funnel exploration.  Scale
    shape: the per-session event prefix is CUT TO ``max_len`` BEFORE
    any collection, so no session — however long — materializes more
    than ``max_len`` elements; the path table then partial-aggregates
    to at most |event-type alphabet|^max_len rows and the final top-k
    is one window over that bounded table.
    """
    if max_len < 1 or k < 1:
        raise ValueError("max_len and k must be >= 1")
    order = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w_seq = Window.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w_seq)
    is_new = (prev_ts.isNull()
              | ((F.col(ts_col).cast("double") - prev_ts.cast("double"))
                 > gap_seconds)).cast("long")
    sess = (events
            .withColumn("_sid", F.sum(is_new).over(
                w_seq.rowsBetween(Window.unboundedPreceding, 0)))
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy(user_col, "_sid").orderBy(*order)))
            .filter(F.col("_rn") <= int(max_len)))
    paths = (sess.groupBy(user_col, "_sid")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("_rn").alias("r"),
                                  F.col(event_col).alias("e")))),
                     lambda s: s["e"]),
                 ">").alias("path"))
             .groupBy("path")
             .agg(F.count(F.lit(1)).cast("long").alias("n_sessions")))
    wtop = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (paths.withColumn("rnk", F.row_number().over(wtop).cast("long"))
            .filter(F.col("rnk") <= int(k))
            .select("path", "n_sessions", "rnk"))


def conversion_latency(events: DataFrame, from_event: str, to_event: str,
                       horizon_seconds: float = 86400.0,
                       ts_col: str = "ts", user_col: str = "user_id",
                       event_col: str = "event_type") -> DataFrame:
    """Time-to-convert distribution between two funnel stages: per user,
    latency from the FIRST ``from_event`` to the first ``to_event`` at
    or after it within ``horizon_seconds`` → one summary row
    ``(n_from, n_converted, conv_rate, p50_s, p90_s)`` with EXACT
    (linear-interpolation) latency percentiles in seconds.

    The funnel question :func:`session_funnel` doesn't answer: not
    whether users convert, but HOW LONG they take (SLA/payback
    analysis).  Shape: two filtered per-user min-aggregations (the
    second conditional on the first via one equi-join on user), then a
    single global aggregate over the per-user latency table — bounded
    by user cardinality, exact percentiles over it, no window over raw
    events.  Same-timestamp conversions count (latency 0); a user with
    no ``from_event`` is out of denominator.
    """
    if horizon_seconds <= 0:
        raise ValueError("horizon_seconds must be positive")
    t = F.col(ts_col).cast("double")
    a = (events.filter(F.col(event_col) == from_event)
         .groupBy(user_col).agg(F.min(t).alias("_ta")))
    b = (events.filter(F.col(event_col) == to_event)
         .select(user_col, t.alias("_tb")))
    conv = (a.join(b, user_col, "left")
            .groupBy(user_col, "_ta")
            .agg(F.min(F.when((F.col("_tb") >= F.col("_ta"))
                              & (F.col("_tb") <= F.col("_ta")
                                 + float(horizon_seconds)),
                              F.col("_tb"))).alias("_tc")))
    lat = conv.select((F.col("_tc") - F.col("_ta")).alias("_lat"))
    r4 = lambda e: F.round(e * 1e4) / 1e4 + F.lit(0.0)  # noqa: E731
    qs = F.percentile("_lat", F.array(F.lit(0.5), F.lit(0.9)))
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_from"),
        F.count("_lat").cast("long").alias("n_converted"),
        r4(F.count("_lat").cast("double")
           / F.count(F.lit(1)).cast("double")).alias("conv_rate"),
        r4(qs[0]).alias("p50_s"),
        r4(qs[1]).alias("p90_s"))
