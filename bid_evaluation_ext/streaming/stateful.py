"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming surface (SURVEY §2.9); this is the
beyond-reference custom-stateful-operator slice of the build plan (SURVEY §7
phase E): arbitrary per-key state the built-in windowed aggregations can't
express — running totals that survive across micro-batches, per-key anomaly
flags against the running mean, state eviction by processing-time timeout.

Scale notes: state lives in the executor state store partitioned by key — the
same shuffle partitioning as a streaming aggregation, with per-key state size
bounded by the fixed-width state schema here (two counters + two moments), so
state growth is O(distinct keys) regardless of event volume. Timeouts evict
idle keys to bound that too.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: output of running_user_totals: one row per key per micro-batch it appears in
RUNNING_TOTALS_OUTPUT = (
    "user_id long, n_events long, sum_value double, mean_value double"
)
#: persistent per-key state: event count + value sum + non-null value count
RUNNING_TOTALS_STATE = "n long, s double, nv long"


def running_user_totals(events: DataFrame, user_col: str = "user_id",
                        value_col: str = "value",
                        idle_timeout_ms: int = 0) -> DataFrame:
    """Running per-user event count / sum / mean across micro-batches.

    A streaming ``groupBy(user).agg(count, sum)`` in complete mode would keep
    unbounded output; this emits ONE updated row per user per micro-batch the
    user appears in (update-mode shape) while the state store holds just three
    numbers per user. With ``idle_timeout_ms > 0`` users idle longer than the
    timeout are evicted (their next event starts fresh counts).

    ``n_events`` counts ALL rows (null values included); ``mean_value`` is the
    mean of the NON-NULL values (sum / non-null count) — the same null
    semantics as the batch twin ``groupBy(user).agg(count('*'), avg(value))``.

    Only valid on a streaming DataFrame — batch frames don't execute
    ``applyInPandasWithState`` (Spark restriction); the batch twin is a plain
    ``groupBy(user).agg(...)``.
    """
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if idle_timeout_ms > 0
               else GroupStateTimeout.NoTimeout)

    def update(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, s, nv = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += int(len(pdf))
            s += float(vals.sum())
            nv += int(len(vals))
        state.update((n, s, nv))
        if idle_timeout_ms > 0:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [s],
            "mean_value": [s / nv if nv else None],
        })

    return events.groupBy(user_col).applyInPandasWithState(
        update, RUNNING_TOTALS_OUTPUT, RUNNING_TOTALS_STATE, "update", timeout
    )


DEDUP_OUTPUT = "doc_id long, fp long, is_first boolean"
DEDUP_STATE = "seen long"


def streaming_dedup_filter(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           state_ttl_ms: int = 0) -> DataFrame:
    """Streaming exact dedup: emit each document once, across micro-batches.

    Groups by content fingerprint (normalized-text hash, same key as the
    batch ``dedup_exact``); per-fingerprint state is ONE long (count seen so
    far), so the state store is O(distinct contents) regardless of stream
    volume. Within a first micro-batch containing several copies, the lowest
    id wins (matching batch dedup's min-id canonical rule); afterwards every
    re-occurrence is emitted with ``is_first=false`` (filter on it, or use
    ``flag_only`` downstream for audit counts).

    Spark's built-in ``dropDuplicates`` on a stream needs a watermark to ever
    evict and silently re-admits duplicates older than it; the default here
    keeps exact forever-dedup semantics with explicitly-bounded (1 long/key)
    state. On unbounded-vocabulary streams O(distinct contents) still grows
    forever — ``state_ttl_ms > 0`` evicts fingerprints idle past the TTL
    (processing-time timeout), trading exactness at the horizon (a
    duplicate arriving after its fingerprint's eviction re-admits as first)
    for hard-bounded state: the standard dedup-window contract, made
    explicit instead of silent.
    """
    from ..operators.text import fingerprint as _fp

    keyed = docs.select(F.col(id_col).alias("doc_id"),
                        _fp(text_col).alias("fp"))
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms > 0
               else GroupStateTimeout.NoTimeout)

    def update(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (seen,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            flags = []
            for _ in range(len(pdf)):
                flags.append(seen == 0)
                seen += 1
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "fp": key[0],
                "is_first": flags,
            })
        state.update((seen,))
        if state_ttl_ms > 0:
            state.setTimeoutDuration(state_ttl_ms)

    return keyed.groupBy("fp").applyInPandasWithState(
        update, DEDUP_OUTPUT, DEDUP_STATE, "append", timeout,
    )


NEARDUP_OUTPUT = "doc_id long, matched_id long, est_jaccard double, band int"
#: per-bucket state: doc ids + their signatures flattened (num_perm each)
NEARDUP_STATE = "ids array<long>, sigs array<long>"


def streaming_neardup_candidates(docs: DataFrame, id_col: str = "doc_id",
                                 text_col: str = "text",
                                 threshold: float = 0.5, num_perm: int = 64,
                                 bands: int = 16, shingle_k: int = 3,
                                 seed: int = 42,
                                 max_bucket: int = 1000) -> DataFrame:
    """Streaming MinHash near-duplicate detection: emit ``(doc, earlier
    match)`` candidate pairs as documents arrive, across micro-batches.

    The streaming twin of the batch ``minhash_lsh_candidates`` path, same
    parameters and signature kernel: per document a map-side MinHash
    signature + band hashes (no shuffle of document text), then state keyed
    by ``(band, band_hash)`` — each incoming document is compared against
    the signatures already seen in its bucket (estimated Jaccard = fraction
    of equal signature slots) and matches ≥ ``threshold`` are emitted with
    the earlier document's id. Within one micro-batch, lower ids are
    treated as earlier (the batch path's canonical rule).

    State per bucket is capped at ``max_bucket`` signatures (FIFO —
    documents beyond the cap still MATCH against the bucket but stop
    enrolling); total state ≈ buckets × min(bucket size, cap) × num_perm
    longs. The same pair colliding in several bands is emitted once per
    band (``band`` column included) — aggregate downstream with
    ``groupBy(doc_id, matched_id).max(est_jaccard)`` if pair-level output
    is wanted; est_jaccard is identical across bands so no information is
    lost either way.
    """
    from ..operators.dedup import minhash_band_structs, with_minhash_signature

    sig = (
        with_minhash_signature(docs, text_col, num_perm, shingle_k, seed)
        .filter(F.size("_shingles") > 0)  # sentinel sigs would bucket-bomb
        .select(F.col(id_col).alias("doc_id"), "_minhash")
    )
    band_structs = minhash_band_structs(num_perm, bands)
    banded = (
        sig.select("doc_id", "_minhash", F.explode(band_structs).alias("bs"))
        .select("doc_id", "_minhash",
                F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh"))
    )

    import numpy as np

    def update(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        ids, flat = state.get if state.exists else ([], [])
        ids = list(ids)
        flat = list(flat)
        band = int(key[0])
        # concatenate the group's Arrow chunks BEFORE sorting — a per-chunk
        # sort would make the "lower id enrolls first" canonical rule depend
        # on chunk boundaries; group size is bounded by the bucket's
        # micro-batch volume (and enrollment by max_bucket)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (pd.concat(chunks) if len(chunks) > 1 else chunks[0]
                     ).sort_values("doc_id")
            out = {"doc_id": [], "matched_id": [], "est_jaccard": []}
            for doc_id, sig_arr in zip(whole["doc_id"], whole["_minhash"]):
                s = np.asarray(sig_arr, dtype=np.int64)
                if ids:
                    seen = np.asarray(flat, dtype=np.int64).reshape(
                        len(ids), num_perm)
                    est = (seen == s[None, :]).mean(axis=1)
                    for j in np.nonzero(est >= threshold)[0]:
                        out["doc_id"].append(int(doc_id))
                        out["matched_id"].append(int(ids[j]))
                        out["est_jaccard"].append(float(est[j]))
                if len(ids) < max_bucket:
                    ids.append(int(doc_id))
                    flat.extend(int(v) for v in s)
            if out["doc_id"]:
                res = pd.DataFrame(out)
                res["band"] = band
                yield res.astype({"doc_id": "int64", "matched_id": "int64",
                                  "est_jaccard": "float64", "band": "int32"})
        state.update((ids, flat))

    return banded.groupBy("band", "bh").applyInPandasWithState(
        update, NEARDUP_OUTPUT, NEARDUP_STATE, "append",
        GroupStateTimeout.NoTimeout,
    )


ANOMALY_OUTPUT = (
    "user_id long, ts timestamp, value double, running_mean double, "
    "running_std double, zscore double, is_anomaly boolean"
)
#: Welford accumulator: count, mean, M2
ANOMALY_STATE = "n long, mean double, m2 double"


def flag_value_anomalies(events: DataFrame, user_col: str = "user_id",
                         ts_col: str = "ts", value_col: str = "value",
                         z_threshold: float = 3.0,
                         min_history: int = 10) -> DataFrame:
    """Per-event anomaly flag against the user's RUNNING mean/std (Welford).

    The canonical can't-do-it-with-windows stateful op: each event is scored
    against statistics accumulated over the user's entire history so far,
    then folded into them — sequential state per key, constant memory
    (count/mean/M2), emitted per event. Events before ``min_history``
    observations are never flagged (insufficient evidence).
    """

    def update(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            out = {k: [] for k in ("ts", "value", "running_mean",
                                   "running_std", "zscore", "is_anomaly")}
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                v = float(v) if v is not None and pd.notna(v) else None
                std = (m2 / (n - 1)) ** 0.5 if n > 1 else None
                z = ((v - mean) / std
                     if v is not None and std and n >= min_history else None)
                out["ts"].append(ts)
                out["value"].append(v)
                out["running_mean"].append(mean if n else None)
                out["running_std"].append(std)
                out["zscore"].append(z)
                out["is_anomaly"].append(bool(z is not None and abs(z) > z_threshold))
                if v is not None:  # Welford fold
                    n += 1
                    delta = v - mean
                    mean += delta / n
                    m2 += delta * (v - mean)
            res = pd.DataFrame(out)
            res.insert(0, "user_id", key[0])
            yield res
        state.update((n, mean, m2))

    return events.groupBy(user_col).applyInPandasWithState(
        update, ANOMALY_OUTPUT, ANOMALY_STATE, "append",
        GroupStateTimeout.NoTimeout,
    )


LATEST_OUTPUT = "key long, ver double, seq long, val double"
LATEST_STATE = "ver double, seq long, val double"


def streaming_latest_by_key(updates: DataFrame, key_col: str = "user_id",
                            version_col: str = "ts",
                            tiebreak_col: str = "event_id",
                            value_col: str = "value") -> DataFrame:
    """Streaming twin of :func:`..operators.cdc.compact_latest`: maintain
    the latest (version, tiebreak) row per key across micro-batches,
    emitting a row only when a batch CHANGES a key's latest — the
    update-stream → materialized-snapshot pattern (a CDC upsert feed
    compacted on the fly).

    Out-of-order protection: an arrival with (version, tiebreak) ≤ the
    stored pair is ignored, so replayed or late updates cannot regress the
    snapshot. State is three numbers per key — O(distinct keys) forever.
    The version column is cast to double (timestamps become epoch
    seconds); the tiebreak must be unique per (key, version) for
    determinism, same contract as the batch twin.
    """

    def update(key, pdfs, state: GroupState):
        cur = state.get if state.exists else None
        changed = False
        for pdf in pdfs:
            for ver, seq, val in zip(pdf["_ver"], pdf["_seq"], pdf["_val"]):
                if ver is None or pd.isna(ver):
                    continue
                if seq is None or pd.isna(seq):
                    # a null tiebreak is as undecidable as a null version:
                    # skip the row rather than kill the streaming query
                    continue
                cand = (float(ver), int(seq))
                if cur is None or cand > (cur[0], cur[1]):
                    v = None if val is None or pd.isna(val) else float(val)
                    cur = (float(ver), int(seq), v)
                    changed = True
        if changed:
            state.update(cur)
            yield pd.DataFrame({"key": [key[0]], "ver": [cur[0]],
                                "seq": [cur[1]], "val": [cur[2]]})

    prepared = updates.select(
        F.col(key_col).alias("_k"),
        F.col(version_col).cast("double").alias("_ver"),
        F.col(tiebreak_col).cast("long").alias("_seq"),
        F.col(value_col).cast("double").alias("_val"))
    return prepared.groupBy("_k").applyInPandasWithState(
        update, LATEST_OUTPUT, LATEST_STATE, "update",
        GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT = "key long, tiebreak long, session_id long"
SESSION_STATE = "sess long, prev_ts double, start_ts double"


def streaming_sessionize_capped(events: DataFrame, key_col: str = "user_id",
                                ts_col: str = "ts",
                                tiebreak_col: str = "event_id",
                                gap_seconds: float = 1800.0,
                                max_session_seconds: float = 14400.0
                                ) -> DataFrame:
    """Streaming twin of ``events.sessionize_capped``: per-key session ids
    assigned across micro-batches with three numbers of state (current
    session counter, previous event time, session start time).

    Ordering contract: events are processed in (ts, tiebreak) order WITHIN
    each micro-batch; across batches the recurrence consumes arrival
    order — an event arriving out of order after its session's horizon
    starts a new session, exactly like every watermark-less streaming
    sessionizer. (For late-data tolerance use the windowed
    ``session_window`` aggregation instead; this operator exists for the
    CAP rule, which session_window cannot express.)
    """
    gap, cap = float(gap_seconds), float(max_session_seconds)
    prepared = events.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    ).filter(F.col("_ts").isNotNull())

    def update(key, pdfs, state: GroupState):
        sess, prev_ts, start_ts = (state.get if state.exists
                                   else (0, None, None))
        for pdf in pdfs:
            pdf = pdf.sort_values(["_ts", "_tb"])
            ids = []
            for t in pdf["_ts"].to_numpy():
                t = float(t)
                if (prev_ts is None or t - prev_ts > gap
                        or t - start_ts > cap):
                    sess += 1
                    start_ts = t
                ids.append(sess)
                prev_ts = t
            yield pd.DataFrame({"key": key[0], "tiebreak": pdf["_tb"],
                                "session_id": ids})
        state.update((sess, prev_ts, start_ts))

    return prepared.groupBy("_k").applyInPandasWithState(
        update, SESSION_OUTPUT, SESSION_STATE, "append",
        GroupStateTimeout.NoTimeout,
    )


EWMA_OUTPUT = "key long, tiebreak long, value double, ewma double"
EWMA_STATE = "s double"


def streaming_ewma_by_key(events: DataFrame, key_col: str = "user_id",
                          ts_col: str = "ts", value_col: str = "value",
                          tiebreak_col: str = "event_id",
                          alpha: float = 0.2) -> DataFrame:
    """Streaming twin of ``timeseries.ewma_by_key``: the α·x + (1−α)·s
    recurrence carried across micro-batches with ONE double of state per
    key. Within each batch events process in (ts, tiebreak) order; across
    batches the recurrence consumes arrival order (same contract as the
    other streaming recurrences here). Emits every smoothed row
    (append mode)."""
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    a = float(alpha)
    prepared = events.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
        F.col(value_col).cast("double").alias("_v"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    ).filter(F.col("_v").isNotNull() & F.col("_ts").isNotNull())

    def update(key, pdfs, state: GroupState):
        (s,) = state.get if state.exists else (None,)
        for pdf in pdfs:
            pdf = pdf.sort_values(["_ts", "_tb"])
            out = []
            for x in pdf["_v"].to_numpy():
                x = float(x)
                s = x if s is None else a * x + (1.0 - a) * s
                out.append(s)
            yield pd.DataFrame({"key": key[0], "tiebreak": pdf["_tb"],
                                "value": pdf["_v"], "ewma": out})
        state.update((s,))

    return prepared.groupBy("_k").applyInPandasWithState(
        update, EWMA_OUTPUT, EWMA_STATE, "append",
        GroupStateTimeout.NoTimeout,
    )


CUSUM_OUTPUT = ("key long, tiebreak long, value double, "
                "cusum_pos double, cusum_neg double, alarm boolean")
CUSUM_STATE = "sp double, sn double"


def streaming_cusum_by_key(events: DataFrame, target: float,
                           slack: float = 0.5, threshold: float = 5.0,
                           key_col: str = "user_id", ts_col: str = "ts",
                           value_col: str = "value",
                           tiebreak_col: str = "event_id") -> DataFrame:
    """Streaming twin of ``timeseries.cusum_by_key``: the two one-sided
    CUSUM accumulators carried across micro-batches with TWO doubles of
    state per key — the live change-point alarm over an event stream.
    Within each batch events process in (ts, tiebreak) order; across
    batches the recurrence consumes arrival order (same contract as the
    other streaming recurrences here). Emits every charted row (append).
    """
    if slack < 0:
        raise ValueError(f"slack must be non-negative, got {slack}")
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    t, k, h = float(target), float(slack), float(threshold)
    prepared = events.select(
        F.col(key_col).cast("long").alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
        F.col(value_col).cast("double").alias("_v"),
        F.col(tiebreak_col).cast("long").alias("_tb"),
    ).filter(F.col("_v").isNotNull() & F.col("_ts").isNotNull())

    def update(key, pdfs, state: GroupState):
        sp, sn = state.get if state.exists else (0.0, 0.0)
        for pdf in pdfs:
            pdf = pdf.sort_values(["_ts", "_tb"])
            pos, neg, alarm = [], [], []
            for x in pdf["_v"].to_numpy():
                x = float(x)
                sp = max(0.0, sp + (x - t - k))
                sn = max(0.0, sn + (t - k - x))
                pos.append(sp)
                neg.append(sn)
                alarm.append(sp > h or sn > h)
            yield pd.DataFrame({"key": key[0], "tiebreak": pdf["_tb"],
                                "value": pdf["_v"], "cusum_pos": pos,
                                "cusum_neg": neg, "alarm": alarm})
        state.update((sp, sn))

    return prepared.groupBy("_k").applyInPandasWithState(
        update, CUSUM_OUTPUT, CUSUM_STATE, "append",
        GroupStateTimeout.NoTimeout,
    )


DISORDER_OUTPUT = ("key string, n long, n_late long, max_late_s double, "
                   "hwm double")
DISORDER_STATE = "hw double"


def streaming_disorder_by_key(events: DataFrame, key_col: str = "key",
                              ts_col: str = "ts") -> DataFrame:
    """Checkpoint-persistent twin of ``streaming.disorder.DisorderMonitor``:
    the per-key event-time high-water mark lives in the STATE STORE (one
    double per key under the query's checkpoint), so a query restart
    resumes with warm marks and lateness is never under-reported after
    resume — the gap the driver-side monitor documents (its ``hwm`` dict
    is session-scoped; seeding via ``initial_hwm`` is manual).

    Same batch-granularity contract: all of a key's rows within one
    trigger are concurrent — each is measured against the PRE-trigger
    mark, then the mark advances to the trigger max. Emits one row per
    key per trigger it appears in: ``(key, n, n_late, max_late_s, hwm)``
    with ``hwm`` the post-trigger mark (append mode; at-least-once
    consumers dedupe on key + hwm monotonicity).
    """
    prepared = events.select(
        F.col(key_col).cast("string").alias("_k"),
        F.col(ts_col).cast("double").alias("_ts"),
    ).filter(F.col("_ts").isNotNull() & F.col("_k").isNotNull())

    def update(key, pdfs, state: GroupState):
        (hw,) = state.get if state.exists else (None,)
        n = 0
        n_late = 0
        mx = None
        trig_max = None
        for pdf in pdfs:
            ts = pdf["_ts"].to_numpy(dtype=float)
            n += int(len(ts))
            if len(ts) == 0:
                continue
            if hw is not None:
                late = hw - ts[ts < hw]
                if len(late):
                    n_late += int(len(late))
                    mx = max(mx or 0.0, float(late.max()))
            m = float(ts.max())
            trig_max = m if trig_max is None else max(trig_max, m)
        if n == 0:
            return
        new_hw = trig_max if hw is None else max(hw, trig_max)
        state.update((new_hw,))
        yield pd.DataFrame({"key": [key[0]], "n": [n], "n_late": [n_late],
                            "max_late_s": [mx], "hwm": [new_hw]})

    return prepared.groupBy("_k").applyInPandasWithState(
        update, DISORDER_OUTPUT, DISORDER_STATE, "append",
        GroupStateTimeout.NoTimeout,
    )
