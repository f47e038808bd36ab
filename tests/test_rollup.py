"""StreamingRollup: incremental ≡ one-shot, replay idempotency, restart
from manifest, partitioned state pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.streaming.rollup import StreamingRollup


def _batches(spark):
    rows1 = [("d1", "click", 1.0), ("d1", "click", 3.0), ("d1", "view", 2.0)]
    rows2 = [("d1", "click", 5.0), ("d2", "view", None), ("d2", "view", 4.0)]
    rows3 = [("d2", "click", -1.0)]
    mk = lambda rows: spark.createDataFrame(rows, "day string, et string, v double")
    return [mk(r) for r in (rows1, rows2, rows3)], mk(rows1 + rows2 + rows3)


def test_incremental_equals_one_shot(spark, tmp_path):
    batches, full = _batches(spark)
    r = StreamingRollup(spark, str(tmp_path / "s"), ["day", "et"], ["v"])
    for i, b in enumerate(batches):
        r.process_batch(b, batch_id=i)
    got = {(x["day"], x["et"]): x for x in r.current().collect()}
    want = {(x["day"], x["et"]): x for x in
            full.groupBy("day", "et")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count("v").alias("c"), F.sum("v").alias("s"),
                     F.avg("v").alias("m"), F.min("v").alias("lo"),
                     F.max("v").alias("hi")).collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["n_rows"] == w["n_rows"] and g["v_count"] == w["c"]
        assert g["v_sum"] == pytest.approx(w["s"] or 0.0) or g["v_sum"] is None
        if w["m"] is None:
            assert g["v_mean"] is None
        else:
            assert g["v_mean"] == pytest.approx(w["m"])
        assert g["v_min"] == w["lo"] and g["v_max"] == w["hi"]
    assert r.n_rows == 7


def test_replay_skipped_and_restart_resumes(spark, tmp_path):
    batches, _ = _batches(spark)
    path = str(tmp_path / "s2")
    r = StreamingRollup(spark, path, ["day", "et"], ["v"])
    r.process_batch(batches[0], batch_id=0)
    r.process_batch(batches[1], batch_id=1)
    before = sorted(map(tuple, r.current().collect()))
    r.process_batch(batches[1], batch_id=1)      # replay: must be a no-op
    assert sorted(map(tuple, r.current().collect())) == before
    # restart: a new object resumes from the manifest
    r2 = StreamingRollup(spark, path, ["day", "et"], ["v"])
    assert r2.version == r.version and r2.last_batch_id == 1
    r2.process_batch(batches[2], batch_id=2)
    clicks = {(x["day"], x["et"]): x["v_sum"]
              for x in r2.current().collect()}
    assert clicks[("d2", "click")] == -1.0
    # shape mismatch on reopen is rejected
    with pytest.raises(ValueError, match="shape"):
        StreamingRollup(spark, path, ["day"], ["v"])


def test_partitioned_state_prunes(spark, tmp_path):
    batches, _ = _batches(spark)
    r = StreamingRollup(spark, str(tmp_path / "s3"), ["day", "et"], ["v"],
                        partition_col="day")
    for i, b in enumerate(batches):
        r.process_batch(b, batch_id=i)
    q = r.current().filter(F.col("day") == "d1")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    assert {x["et"] for x in q.collect()} == {"click", "view"}


def test_live_stream_attach(spark, tmp_path):
    import time as _time

    batches, full = _batches(spark)
    src = str(tmp_path / "stream_src")
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{src}/batch={i}")
        _time.sleep(1.1)
    stream = spark.readStream.schema(batches[0].schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    r = StreamingRollup(spark, str(tmp_path / "s4"), ["day", "et"], ["v"])
    q = r.attach(stream, checkpoint=str(tmp_path / "ckpt")).trigger(
        availableNow=True).start()
    q.awaitTermination(120)
    got = {(x["day"], x["et"]): x["n_rows"] for x in r.current().collect()}
    want = {(x["day"], x["et"]): x["n"]
            for x in full.groupBy("day", "et")
                         .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_merge_rollup_states(spark, tmp_path):
    """Two independently-maintained rollups merge into the rollup of the
    concatenated data — the cross-corpus algebra, no history rescan."""
    from bid_evaluation_ext.streaming.rollup import merge_rollup_states

    batches, full = _batches(spark)
    r1 = StreamingRollup(spark, str(tmp_path / "m1"), ["day", "et"], ["v"])
    r2 = StreamingRollup(spark, str(tmp_path / "m2"), ["day", "et"], ["v"])
    r1.process_batch(batches[0], 0)
    r1.process_batch(batches[1], 1)
    r2.process_batch(batches[2], 0)
    merged = merge_rollup_states(r1.state(), r2.state(), ["day", "et"])
    whole = StreamingRollup(spark, str(tmp_path / "m3"), ["day", "et"], ["v"])
    whole.process_batch(full, 0)
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, whole.state().collect()))
    bad = r1.state().withColumnRenamed("v__sum", "w__sum")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="schemas differ"):
        merge_rollup_states(r1.state(), bad, ["day", "et"])


def test_empty_state_group_schema_types(spark, tmp_path):
    """A v0 (pre-first-batch) state built with group_schema carries the
    caller's group-column types, so it unions cleanly with a populated
    TYPED rollup; without group_schema the columns default to string and
    a typed merge raises instead of silently coercing."""
    from pyspark.sql.types import LongType, StringType

    from bid_evaluation_ext.streaming.rollup import merge_rollup_states

    typed_rows = spark.createDataFrame(
        [(1, "click", 2.0), (2, "view", 3.0)],
        "day long, et string, v double")
    populated = StreamingRollup(spark, str(tmp_path / "p"),
                                ["day", "et"], ["v"])
    populated.process_batch(typed_rows, 0)

    empty = StreamingRollup(spark, str(tmp_path / "e"), ["day", "et"], ["v"],
                            group_schema="day long, et string")
    st = empty.state()
    assert isinstance(st.schema["day"].dataType, LongType)
    assert isinstance(st.schema["et"].dataType, StringType)
    merged = merge_rollup_states(st, populated.state(), ["day", "et"])
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, populated.state().collect()))

    with pytest.raises(ValueError, match="missing columns"):
        StreamingRollup(spark, str(tmp_path / "bad"), ["day", "et"], ["v"],
                        group_schema="day long")
