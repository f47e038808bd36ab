"""Session funnel: known micro-corpus, depth monotonicity, contracts."""

from datetime import datetime

import pytest

from bid_evaluation_ext.streaming.events import session_funnel


def _ts(m):
    return datetime(2026, 1, 1, 10, m)


def test_session_funnel_known_counts(spark):
    rows = [
        # user 1, session A: view + click + purchase  (depth 3)
        (1, _ts(0), 1, "view"), (2, _ts(1), 1, "click"),
        (3, _ts(2), 1, "purchase"),
        # user 1, session B (>30min later): view only  (depth 1)
        (4, _ts(40), 1, "view"),
        # user 2, one session: click+purchase but NO view (depth 0)
        (5, _ts(0), 2, "click"), (6, _ts(1), 2, "purchase"),
        # user 3: view + click (depth 2), order scrambled inside session
        (7, _ts(5), 3, "click"), (8, _ts(1), 3, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    out = {r["depth"]: (r["stage"], r["n_sessions"])
           for r in session_funnel(df).collect()}
    assert out == {1: ("view", 3), 2: ("click", 2), 3: ("purchase", 1)}


def test_session_funnel_monotone_on_testdata(spark):
    from bid_evaluation_spark.sources.io import load_table
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    got = [r["n_sessions"] for r in
           session_funnel(df).orderBy("depth").collect()]
    assert len(got) == 3 and got[0] >= got[1] >= got[2] > 0


def test_session_funnel_empty_stages(spark):
    df = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string")
    with pytest.raises(ValueError, match="non-empty"):
        session_funnel(df, stages=())


def test_stream_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode tumbling counts with a watermark, across a checkpointed
    RESTART: once the watermark passes a window and the window is emitted,
    a later-arriving row for it is DROPPED (state closed, no re-emission,
    no double count) — the bounded-state contract at scale.

    The restart shape matters: within one availableNow run Spark keeps
    window state open until the final no-data batch, so a same-run late
    row can still merge; the persisted-watermark guarantee is what
    production relies on, and is what this pins.
    """
    from datetime import datetime
    from bid_evaluation_ext.streaming.events import stream_tumbling_counts

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    b1 = spark.createDataFrame(
        [(1, datetime(2026, 1, 1, 10, 5), 1, "view", 1.0),
         (2, datetime(2026, 1, 1, 10, 6), 1, "view", 1.0),
         # drives the watermark far past the 10:00 window (+10 min delay)
         (3, datetime(2026, 1, 1, 13, 0), 1, "view", 1.0)],
        schema)
    b2 = spark.createDataFrame(
        # LATE: lands in the long-closed 10:00 window
        [(4, datetime(2026, 1, 1, 10, 7), 1, "view", 1.0),
         (5, datetime(2026, 1, 1, 13, 30), 1, "view", 1.0)],
        schema)
    src = str(tmp_path / "late_stream")
    ckpt = str(tmp_path / "ckpt")
    emitted = []

    def sink(df, _bid):
        emitted.extend((r["window_start"].hour, r["n_events"])
                       for r in df.collect())

    def run_once():
        out = stream_tumbling_counts(spark, f"{src}/f*", b1.schema,
                                     duration="1 hour",
                                     watermark="10 minutes")
        q = (out.writeStream.foreachBatch(sink).outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    b1.coalesce(1).write.parquet(f"{src}/f0")
    run_once()
    assert sorted(emitted) == [(10, 2)]  # window finalized with on-time rows
    b2.coalesce(1).write.parquet(f"{src}/f1")
    run_once()
    # late event 4 dropped: nothing re-emitted for hour 10, no n=3 anywhere
    assert sorted(emitted) == [(10, 2)]


def test_robust_zscores_known_values(spark):
    from bid_evaluation_ext.operators.features import robust_zscores

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, "a", 4.0),
         (5, "a", 100.0),           # outlier: must NOT distort the scale
         (6, "b", 7.0), (7, "b", 7.0), (8, "b", 7.0)],  # constant group
        "id long, g string, v double")
    out = {r["id"]: r["robust_z"]
           for r in robust_zscores(df, "v", group_col="g").collect()}
    # group a: median 3, MAD = median(|2,1,0,1,97|) = 1
    assert out[3] == pytest.approx(0.0, abs=1e-12)
    assert out[5] == pytest.approx(97 / 1.4826, rel=1e-9)
    assert out[1] == pytest.approx(-2 / 1.4826, rel=1e-9)
    # constant group: MAD 0 -> null, never a division error
    assert out[6] is None and out[7] is None and out[8] is None
    # ungrouped path
    allz = {r["id"]: r["robust_z"]
            for r in robust_zscores(df, "v").collect()}
    assert allz[3] is not None and len(allz) == 8


def test_event_sequences_order_and_cap(spark):
    from datetime import datetime
    from bid_evaluation_ext.operators.features import event_sequences

    df = spark.createDataFrame(
        [(3, datetime(2026, 1, 1, 10, 2), 1, "c"),
         (1, datetime(2026, 1, 1, 10, 0), 1, "a"),
         # same ts as event 1 -> event_id tiebreak decides the order
         (2, datetime(2026, 1, 1, 10, 0), 1, "b"),
         (4, datetime(2026, 1, 1, 9, 0), 2, "z")],
        "event_id long, ts timestamp, user_id long, event_type string")
    out = {r["user_id"]: (r["n_events"], r["seq"])
           for r in event_sequences(df).collect()}
    assert out[1] == (3, "a,b,c")
    assert out[2] == (1, "z")
    capped = {r["user_id"]: r["seq"]
              for r in event_sequences(df, max_len=2).collect()}
    assert capped[1] == "a,b"


def test_sessionize_capped(spark):
    """Gap + cap splits vs a pure-python replay of the recurrence; cap=inf
    degenerates to pure-gap sessionization."""
    from bid_evaluation_ext.streaming.events import sessionize_capped

    rows = []
    # user A: burst every 100s for 10 events (gap never trips; cap 450 does)
    rows += [(1, i, 1000.0 + 100 * i) for i in range(10)]
    # user B: two gap-split bursts
    rows += [(2, 100, 0.0), (2, 101, 50.0), (2, 102, 5000.0)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts double")

    def ref(ts_list, gap, cap):
        out, sess, prev, start = [], 0, None, None
        for t in sorted(ts_list):
            if prev is None or t - prev > gap or t - start > cap:
                sess += 1
                start = t
            out.append(sess)
            prev = t
        return out

    got = {(r["user_id"], r["event_id"]): r["session_id"]
           for r in sessionize_capped(df, gap_seconds=1000,
                                      max_session_seconds=450).collect()}
    a_ts = [1000.0 + 100 * i for i in range(10)]
    for i, s in enumerate(ref(a_ts, 1000, 450)):
        assert got[(1, i)] == s
    assert [got[(2, e)] for e in (100, 101, 102)] == [1, 1, 2]
    # cap=inf == pure gap rule
    got_inf = {(r["user_id"], r["event_id"]): r["session_id"]
               for r in sessionize_capped(df, gap_seconds=1000,
                                          max_session_seconds=10**9).collect()}
    assert all(s == 1 for (u, e), s in got_inf.items() if u == 1)


def test_sessionize_capped_step_kernel_matches_sequential(spark):
    """r12 opt: sessionize_capped moved from per-key applyInPandas to
    the step-vectorized partition kernel — session ids must match the
    sequential per-key fold on a messy corpus (many keys, varying
    lengths, null keys as one SQL group, ts ties, shuffled input)."""
    import random

    from bid_evaluation_ext.streaming.events import sessionize_capped

    rnd = random.Random(1219)
    rows = []
    for k in list(range(29)) + [None]:
        t = 0.0
        for _ in range(rnd.randint(1, 25)):
            t += rnd.choice([5.0, 5.0, 40.0, 400.0])
            rows.append((k, len(rows), t))
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "user_id int, event_id long, ts double")

    series = {}
    for k, e, t in sorted(rows, key=lambda r: (r[2], r[1])):
        series.setdefault(k, []).append((e, t))

    got = {r["event_id"]: r["session_id"]
           for r in sessionize_capped(df, gap_seconds=30,
                                      max_session_seconds=100).collect()}
    assert len(got) == len(rows)
    for evs in series.values():
        sess, prev, start = 0, None, None
        for e, t in evs:
            if prev is None or t - prev > 30 or t - start > 100:
                sess += 1
                start = t
            assert got[e] == sess, e
            prev = t


def test_streaming_sessionize_capped_matches_batch(spark, tmp_path):
    """The streaming twin must assign the same session ids as the batch
    operator when batches arrive in order — state carries the recurrence
    across the batch boundary."""
    import time as _time

    from bid_evaluation_ext.streaming.events import sessionize_capped
    from bid_evaluation_ext.streaming.stateful import (
        streaming_sessionize_capped)

    schema = "user_id long, event_id long, ts double"
    all_rows = ([(1, i, 1000.0 + 100 * i) for i in range(6)]      # cap splits
                + [(2, 50, 0.0), (2, 51, 9000.0)])                # gap split
    # cross-batch order matters (the recurrence consumes arrival order),
    # so split batches at a time cut: batch 1 strictly precedes batch 2
    cut = 1250.0
    batch1 = [r for r in all_rows if r[2] <= cut]
    batch2 = [r for r in all_rows if r[2] > cut]
    src = str(tmp_path / "sess_stream")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(f"{src}/batch=0")
    _time.sleep(1.1)
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(f"{src}/batch=1")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (streaming_sessionize_capped(stream, gap_seconds=1000,
                                     max_session_seconds=450)
         .writeStream.format("memory").queryName("sess_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["key"], r["tiebreak"]): r["session_id"]
           for r in spark.sql("SELECT * FROM sess_smoke").collect()}
    batch_df = spark.createDataFrame(all_rows, schema)
    want = {(r["user_id"], r["event_id"]): r["session_id"]
            for r in sessionize_capped(batch_df, gap_seconds=1000,
                                       max_session_seconds=450).collect()}
    assert got == want


class TestWindowFunnel:
    def _wf(self, spark, rows, horizon=100.0,
            stages=("a", "b", "c")):
        from bid_evaluation_ext.streaming.events import window_funnel

        df = spark.createDataFrame(
            rows, "user_id string, ts double, event_id long, "
                  "event_type string")
        out = window_funnel(df, list(stages), horizon, ts_col="ts")
        return {r["user_id"]: r.asDict() for r in out.collect()}

    def test_strict_order_and_horizon(self, spark):
        rows = [("u1", 1.0, 1, "a"), ("u1", 2.0, 2, "b"), ("u1", 3.0, 3, "c"),
                ("u2", 1.0, 4, "b"), ("u2", 2.0, 5, "a"),  # b before a
                ("u3", 1.0, 6, "a"), ("u3", 200.0, 7, "b")]  # b too late
        out = self._wf(spark, rows)
        assert out["u1"]["depth"] == 3
        assert out["u1"]["t_first"] == 1.0 and out["u1"]["t_last"] == 3.0
        assert out["u2"]["depth"] == 1  # the b before a doesn't count
        assert out["u3"]["depth"] == 1  # horizon excludes the late b

    def test_no_stage1_no_row_and_out_of_order_skip(self, spark):
        rows = [("v", 1.0, 1, "b"), ("v", 2.0, 2, "c")]
        assert self._wf(spark, rows) == {}
        # stage 3 event between 1 and 2 must NOT advance past depth 1+2
        rows = [("w", 1.0, 1, "a"), ("w", 2.0, 2, "c"), ("w", 3.0, 3, "b")]
        out = self._wf(spark, rows)
        assert out["w"]["depth"] == 2   # a then b; the early c is unusable

    def test_greedy_earliest_anchor(self, spark):
        # first 'a' at t=1 anchors the horizon even though the a@t=50
        # would allow the late b — windowFunnel semantics
        rows = [("x", 1.0, 1, "a"), ("x", 50.0, 2, "a"),
                ("x", 120.0, 3, "b")]
        out = self._wf(spark, rows, horizon=100.0)
        assert out["x"]["depth"] == 1

    def test_validation(self, spark):
        import pytest as _pt
        from bid_evaluation_ext.streaming.events import window_funnel
        df = spark.createDataFrame([("u", 1.0, 1, "a")],
                                   "user_id string, ts double, "
                                   "event_id long, event_type string")
        with _pt.raises(ValueError):
            window_funnel(df, [], 10.0)
        with _pt.raises(ValueError):
            window_funnel(df, ["a"], 0.0)
