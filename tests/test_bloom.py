"""Broadcast Bloom filter and the Bloom-prefiltered decontamination path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.bloom import (
    BroadcastBloom,
    bloom_from_hash_column,
    bloom_semi_filter,
)
from bid_evaluation_ext.operators.pipeline import (
    decontaminate,
    decontaminate_bloom,
)

SF = "/root/testdata/sf0.001"


def test_bloom_no_false_negatives_and_fpp():
    rng = np.random.default_rng(7)
    members = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    bloom = BroadcastBloom.build(members, fpp=0.01)
    assert bloom.might_contain(members).all()  # zero false negatives, always

    probes = rng.integers(-(2**63), 2**63 - 1, size=50_000, dtype=np.int64)
    outside = probes[~np.isin(probes, members)]
    fp_rate = bloom.might_contain(outside).mean()
    assert fp_rate < 0.03  # sized for 1%; 3x headroom kills flakiness


def test_bloom_empty_and_tiny():
    empty = BroadcastBloom.build(np.empty(0, dtype=np.int64))
    assert not empty.might_contain(np.array([1, 2, 3], dtype=np.int64)).any()
    one = BroadcastBloom.build(np.array([42], dtype=np.int64))
    assert one.might_contain(np.array([42], dtype=np.int64)).all()


def test_bloom_semi_filter_superset_of_exact(spark):
    df = spark.range(0, 5_000).select(
        F.col("id"), F.xxhash64(F.col("id").cast("string")).alias("h"))
    keys = df.filter(F.col("id") % 97 == 0).select("h")
    bloom = bloom_from_hash_column(keys, "h", fpp=0.01)
    kept = bloom_semi_filter(df, "h", bloom)
    kept_ids = {r["id"] for r in kept.collect()}
    exact = {r["id"] for r in df.filter(F.col("id") % 97 == 0).collect()}
    assert exact <= kept_ids  # no false negatives
    assert len(kept_ids) <= len(exact) + 0.03 * 5_000  # fpp-bounded extras


def test_decontaminate_bloom_identical_to_exact(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    base = {(r["train_id"], r["eval_id"]): round(r["jaccard"], 9)
            for r in decontaminate(train, ev, threshold=0.2, k=3).collect()}
    fast = {(r["train_id"], r["eval_id"]): round(r["jaccard"], 9)
            for r in decontaminate_bloom(train, ev, threshold=0.2, k=3).collect()}
    assert base == fast
    assert base  # the split must actually contain contamination to test


def test_bloom_semi_filter_on_stream(spark, tmp_path):
    """The membership kernel is a plain map-side filter, so it runs
    unchanged on a streaming frame — blocklist filtering at ingest."""
    docs = spark.createDataFrame(
        [(1, "blocked page one"), (2, "a clean document"),
         (3, "blocked page two"), (4, "another fine doc")],
        "doc_id long, text string")
    block = spark.createDataFrame(
        [("blocked page one",), ("blocked page two",)], "text string")
    key = F.xxhash64(F.col("text"))
    bloom = bloom_from_hash_column(block.select(key.alias("h")), "h")

    src = str(tmp_path / "stream_src")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    hits = bloom_semi_filter(stream.withColumn("h", key), "h", bloom)
    clean = hits.select("doc_id")  # rows flagged as might-be-blocked
    q = (clean.writeStream.format("memory").queryName("bloom_stream_smoke")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    flagged = {r["doc_id"]
               for r in spark.sql("SELECT * FROM bloom_stream_smoke").collect()}
    assert {1, 3} <= flagged          # no false negatives, streamed
    assert flagged <= {1, 2, 3, 4}


def test_decontaminate_bloom_empty_eval(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(F.lit(False))
    out = decontaminate_bloom(docs, ev, threshold=0.2, k=3)
    assert out.count() == 0
    assert out.columns == ["train_id", "eval_id", "jaccard"]


def test_decontaminate_auto_dispatch(spark, tmp_path):
    """method='auto' must pick exact when the eval side is broadcastable
    (same logical plan — zero added cost on the default path) and flip to
    the Bloom pre-filter when Catalyst stats say the eval side exceeds the
    broadcast threshold AND the train side is >=4x bigger. The sides are
    written to SEPARATE parquet files: without CBO, a Filter node passes
    its child's size estimate through, so two filters of one file look
    equal-sized and auto (correctly, conservatively) stays exact."""
    from bid_evaluation_ext.operators.pipeline import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.filter(F.col("doc_id") % 10 != 0).write.parquet(
        str(tmp_path / "train"))
    docs.filter(F.col("doc_id") % 10 == 0).coalesce(1).write.parquet(
        str(tmp_path / "eval"))
    train = spark.read.parquet(str(tmp_path / "train"))
    ev = spark.read.parquet(str(tmp_path / "eval"))

    # local scale: auto == exact, plan-identical
    auto_df = decontaminate(train, ev, threshold=0.2, k=3)
    exact_df = decontaminate(train, ev, threshold=0.2, k=3, method="exact")
    assert auto_df.sameSemantics(exact_df)

    # max_df forces the exact path regardless of stats
    guarded = decontaminate(train, ev, threshold=0.2, max_df=5)
    assert not guarded.sameSemantics(auto_df)  # extra stop-shingle filter
    with pytest.raises(ValueError, match="does not support max_df"):
        decontaminate(train, ev, method="bloom", max_df=5)
    with pytest.raises(ValueError, match="unknown method"):
        decontaminate(train, ev, method="nope")

    # shrink the broadcast threshold so the eval side "cannot" broadcast:
    # train is ~9x eval here, so both auto conditions hold -> bloom path
    # (an ArrowEvalPython kernel appears in the plan; exact has none)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        bloom_df = decontaminate(train, ev, threshold=0.2, k=3)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    plan = bloom_df._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan
    assert "ArrowEvalPython" not in \
        exact_df._jdf.queryExecution().optimizedPlan().toString()
    # and the dispatched plans agree on values (bit-for-bit twins)
    base = {(r["train_id"], r["eval_id"]): round(r["jaccard"], 9)
            for r in exact_df.collect()}
    fast = {(r["train_id"], r["eval_id"]): round(r["jaccard"], 9)
            for r in bloom_df.collect()}
    assert base == fast and base
