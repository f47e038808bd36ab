"""Stream-stream interval join: batch parity, live-stream parity, state
bound sanity (the time-range condition is what lets Spark evict state)."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from bid_evaluation_ext.streaming.joins import interval_join


def _ts(m, s=0):
    return dt.datetime(2024, 1, 1, 0, m, s)


@pytest.fixture
def frames(spark):
    clicks = spark.createDataFrame(
        [(1, _ts(0), 10), (2, _ts(5), 10), (3, _ts(20), 10),
         (4, _ts(0), 20), (5, _ts(1), 30)],
        "click_id long, ts timestamp, user_id long")
    buys = spark.createDataFrame(
        [(100, _ts(2), 10),    # forward-within 10 min of click 1 only
                               # (click 2 at :05 is AFTER the buy)
         (101, _ts(27), 10),   # within 10 min of click 3
         (102, _ts(40), 20),   # outside every window for user 20
         (103, _ts(1), 99)],   # key with no clicks
        "buy_id long, ts timestamp, user_id long")
    return clicks, buys


def _expected_inner():
    # click -> buys with buy.ts in [click.ts, click.ts + 10 min]
    return {(1, 100), (3, 101)}


def test_batch_inner_semantics(frames):
    clicks, buys = frames
    got = {(r["click_id"], r["r_buy_id"])
           for r in interval_join(clicks, buys, key="user_id",
                                  lower_seconds=0, upper_seconds=600
                                  ).collect()}
    assert got == _expected_inner()


def test_batch_left_outer_nulls(frames):
    clicks, buys = frames
    rows = interval_join(clicks, buys, key="user_id", lower_seconds=0,
                         upper_seconds=600, how="leftOuter").collect()
    matched = {r["click_id"] for r in rows if r["r_buy_id"] is not None}
    unmatched = {r["click_id"] for r in rows if r["r_buy_id"] is None}
    assert matched == {1, 3}
    assert unmatched == {2, 4, 5}


def test_backward_window(frames):
    clicks, buys = frames
    # buy happens BEFORE the click: click 3 at :20 sees buy 100 at :02
    # only with a 20-minute look-back
    got = {(r["click_id"], r["r_buy_id"])
           for r in interval_join(clicks, buys, key="user_id",
                                  lower_seconds=-1200, upper_seconds=0
                                  ).collect()}
    assert (3, 100) in got
    assert (1, 100) not in got  # buy at :02 is AFTER click 1 at :00


def test_validation(frames):
    clicks, buys = frames
    with pytest.raises(ValueError, match="how"):
        interval_join(clicks, buys, how="full")
    with pytest.raises(ValueError, match="upper_seconds"):
        interval_join(clicks, buys, lower_seconds=10, upper_seconds=0)


def test_stream_stream_inner_parity(spark, tmp_path, frames):
    """The SAME builder over file-source streams returns exactly the
    batch result — inner stream-stream joins emit on arrival."""
    clicks, buys = frames
    csrc, bsrc = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks.coalesce(1).write.parquet(csrc)
    buys.coalesce(1).write.parquet(bsrc)
    cs = spark.readStream.schema(clicks.schema).parquet(csrc)
    bs = spark.readStream.schema(buys.schema).parquet(bsrc)
    joined = interval_join(cs, bs, key="user_id",
                           lower_seconds=0, upper_seconds=600)
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["click_id"], r["r_buy_id"])
           for r in spark.sql("SELECT * FROM ssj").collect()}
    assert got == _expected_inner()


def test_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Outer results flush once the watermark passes a row's match
    window: a far-future flush event on each side advances the watermark
    so every real row's fate is decided."""
    clicks = spark.createDataFrame(
        [(1, _ts(0), 10), (2, _ts(0), 20), (9, _ts(59), 99)],
        "click_id long, ts timestamp, user_id long")
    buys = spark.createDataFrame(
        [(100, _ts(2), 10), (900, _ts(59), 98)],
        "buy_id long, ts timestamp, user_id long")
    csrc, bsrc = str(tmp_path / "c"), str(tmp_path / "b")
    clicks.coalesce(1).write.parquet(csrc)
    buys.coalesce(1).write.parquet(bsrc)
    cs = spark.readStream.schema(clicks.schema).parquet(csrc)
    bs = spark.readStream.schema(buys.schema).parquet(bsrc)
    joined = interval_join(cs, bs, key="user_id", lower_seconds=0,
                           upper_seconds=600, watermark="1 minutes",
                           how="leftOuter")
    q = (joined.writeStream.format("memory").queryName("ssj_outer")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT click_id, r_buy_id FROM ssj_outer").collect()
    got = {(r["click_id"], r["r_buy_id"]) for r in rows}
    assert (1, 100) in got          # matched pair emitted
    assert (2, None) in got         # unmatched left emitted with nulls
