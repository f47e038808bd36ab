"""Incremental-snapshot operators: diff classification, upsert merge with
deletes, latest-version compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.cdc import (
    apply_upsert, compact_latest, snapshot_diff)


@pytest.fixture
def snapshots(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, price double")
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged
         (2, "b", 25.0),        # changed (price)
         (3, "c", None),        # unchanged (null == null is not a change)
         (5, "e", 50.0)],       # inserted; key 4 deleted
        "k long, name string, price double")
    return old, new


class TestSnapshotDiff:
    def test_classification(self, spark, snapshots):
        old, new = snapshots
        got = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}
        assert {k: r["change_type"] for k, r in got.items()} == {
            1: "unchanged", 2: "changed", 3: "unchanged",
            4: "deleted", 5: "inserted"}
        assert got[5]["old_price"] is None and got[5]["new_price"] == 50.0
        assert got[4]["new_name"] is None and got[4]["old_name"] == "d"
        assert got[2]["old_price"] == 20.0 and got[2]["new_price"] == 25.0

    def test_null_transitions_are_changes(self, spark):
        old = spark.createDataFrame([(1, None), (2, 9.0)],
                                    "k long, price double")
        new = spark.createDataFrame([(1, 5.0), (2, None)],
                                    "k long, price double")
        got = {r["k"]: r["change_type"]
               for r in snapshot_diff(old, new, ["k"]).collect()}
        assert got == {1: "changed", 2: "changed"}

    def test_compare_cols_subset(self, spark, snapshots):
        old, new = snapshots
        # only compare `name` — the price change at key 2 is invisible
        got = {r["k"]: r["change_type"]
               for r in snapshot_diff(old, new, ["k"], ["name"]).collect()}
        assert got[2] == "unchanged"


class TestApplyUpsert:
    def test_insert_update_survive(self, spark):
        snap = spark.createDataFrame([(1, 10.0), (2, 20.0)],
                                     "k long, v double")
        upd = spark.createDataFrame([(2, 99.0), (3, 30.0)],
                                    "k long, v double")
        got = {r["k"]: r["v"]
               for r in apply_upsert(snap, upd, ["k"]).collect()}
        assert got == {1: 10.0, 2: 99.0, 3: 30.0}

    def test_delete_flag(self, spark):
        snap = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)],
                                     "k long, v double")
        upd = spark.createDataFrame(
            [(2, 0.0, True),     # delete key 2
             (3, 33.0, False),   # update key 3
             (4, 44.0, None)],   # null flag = not deleted → insert
            "k long, v double, dead boolean")
        got = {r["k"]: r["v"]
               for r in apply_upsert(snap, upd, ["k"],
                                     delete_col="dead").collect()}
        assert got == {1: 10.0, 3: 33.0, 4: 44.0}


class TestCompactLatest:
    def test_latest_by_version_then_tiebreak(self, spark):
        df = spark.createDataFrame(
            [("u", 1, 100, "first"),
             ("u", 2, 101, "mid"),
             ("u", 2, 102, "winner"),   # same version, higher tiebreak
             ("v", 9, 50, "only")],
            "k string, ver long, seq long, payload string")
        got = {r["k"]: r for r in
               compact_latest(df, ["k"], "ver", "seq").collect()}
        assert got["u"]["payload"] == "winner" and got["u"]["seq"] == 102
        assert got["v"]["payload"] == "only"
        assert len(got) == 2


def test_streaming_latest_by_key(spark, tmp_path):
    """Streaming twin: latest-per-key maintained across micro-batches,
    late/out-of-order updates ignored, unchanged keys emit nothing."""
    import time as _time

    from bid_evaluation_ext.streaming.stateful import streaming_latest_by_key

    b1 = spark.createDataFrame(
        [(100, 1.0, 10, 1.5),    # key 100 ver 1
         (100, 2.0, 11, 2.5),    # key 100 ver 2 — wins within the batch
         (200, 5.0, 20, 9.0)],
        "user_id long, ts double, event_id long, value double")
    b2 = spark.createDataFrame(
        [(100, 1.0, 9, 7.7),     # LATE: older version — must be ignored
         (200, 5.0, 21, 10.0),   # same version, higher tiebreak — wins
         (300, 1.0, 30, 3.0),    # new key
         (300, 9.0, None, 4.0)], # null tiebreak — skipped, must not crash
        "user_id long, ts double, event_id long, value double")
    src = str(tmp_path / "upd_stream")
    b1.coalesce(1).write.parquet(f"{src}/batch=0")
    _time.sleep(1.1)
    b2.coalesce(1).write.parquet(f"{src}/batch=1")
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (streaming_latest_by_key(stream)
         .writeStream.format("memory").queryName("latest_smoke")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM latest_smoke").collect()
    emitted = [(r["key"], r["ver"], r["seq"], r["val"]) for r in rows]
    # batch 1: latest for 100 and 200; batch 2: 200 advanced + new 300.
    # key 100 must NOT re-emit (its batch-2 arrival was older).
    assert sorted(emitted) == [
        (100, 2.0, 11, 2.5), (200, 5.0, 20, 9.0),
        (200, 5.0, 21, 10.0), (300, 1.0, 30, 3.0)]


def test_diff_then_upsert_reconstructs_new_snapshot(spark):
    """Glue invariant: applying a diff's inserted+changed rows as upserts
    and its deleted keys as deletes turns `old` exactly into `new`."""
    import random

    rng = random.Random(17)
    old_rows = [(k, rng.choice("abc"), float(rng.randint(0, 5)))
                for k in range(40)]
    new_rows = []
    for k, name, price in old_rows:
        r = rng.random()
        if r < 0.25:
            continue                                    # deleted
        if r < 0.5:
            new_rows.append((k, name, price + 10.0))    # changed
        else:
            new_rows.append((k, name, price))           # unchanged
    new_rows += [(k, "new", 1.0) for k in range(100, 110)]  # inserted
    old = spark.createDataFrame(old_rows, "k long, name string, price double")
    new = spark.createDataFrame(new_rows, "k long, name string, price double")

    diff = snapshot_diff(old, new, ["k"])
    updates = (diff.filter(F.col("change_type").isin("inserted", "changed",
                                                     "deleted"))
               .select("k",
                       F.coalesce("new_name", F.lit("")).alias("name"),
                       F.coalesce("new_price", F.lit(0.0)).alias("price"),
                       (F.col("change_type") == "deleted").alias("_dead")))
    rebuilt = apply_upsert(old, updates, ["k"], delete_col="_dead")
    assert sorted(tuple(r) for r in rebuilt.collect()) \
        == sorted(tuple(r) for r in new.collect())


def test_streaming_dedup_ttl_evicts_idle_fingerprints(spark, tmp_path):
    """With state_ttl_ms, a fingerprint idle past the TTL is evicted on a
    later trigger, so its next occurrence re-admits as first — bounded
    state traded for exactness at the horizon (documented contract)."""
    import time as _time

    from bid_evaluation_ext.streaming.stateful import streaming_dedup_filter

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame([(1, "hello world content")], schema)
    b2 = spark.createDataFrame([(2, "unrelated filler text")], schema)
    b3 = spark.createDataFrame([(3, "hello world content")], schema)
    src = str(tmp_path / "ttl_stream")
    for i, b in enumerate((b1, b2, b3)):
        b.coalesce(1).write.parquet(f"{src}/batch={i}")
        _time.sleep(1.1)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1).parquet(f"{src}/batch=*")
    q = (streaming_dedup_filter(stream, state_ttl_ms=100)
         .writeStream.format("memory").queryName("ttl_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["is_first"]
            for r in spark.sql("SELECT * FROM ttl_smoke").collect()}
    # doc 3 re-admits as first: its fingerprint was evicted during batch 2
    assert rows == {1: True, 2: True, 3: True}


def test_snapshot_diff_bucketed_no_exchange(spark, tmp_path):
    """The 100-TB CDC path: both snapshots bucketed on the business key →
    the full-outer diff join runs with ZERO shuffle exchange (bucket-
    co-located sort-merge join), and classification still matches."""
    from pyspark.sql import Row

    from bid_evaluation_ext.sources import io as IO

    old = spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(100)])
    new = spark.createDataFrame(
        [Row(k=i, v=float(i if i % 3 else i + 1000)) for i in range(5, 105)])
    IO.write_bucketed(old, "cdc_old", "k", num_buckets=4,
                      path=str(tmp_path / "o"), sort_cols=["k"])
    IO.write_bucketed(new, "cdc_new", "k", num_buckets=4,
                      path=str(tmp_path / "n"), sort_cols=["k"])
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            diff = snapshot_diff(IO.read_table(spark, "cdc_old"),
                                 IO.read_table(spark, "cdc_new"), ["k"])
            plan = diff._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan, plan[:2000]
            got = {r["k"]: r["change_type"] for r in diff.collect()}
            assert sum(1 for v in got.values() if v == "deleted") == 5
            assert sum(1 for v in got.values() if v == "inserted") == 5
            assert got[6] == "changed" and got[7] == "unchanged"
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS cdc_old")
        spark.sql("DROP TABLE IF EXISTS cdc_new")
