"""Streaming sketch maintenance: batch-equivalence of the incremental
merge, replay idempotency, restart from the manifest, and the live
foreachBatch path."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.sketch import cms_lookup, cms_topk
from bid_evaluation_ext.streaming.sketch import StreamingSketch


def _tok_df(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return df.select(F.explode(F.split("text", " ")).alias("key"))


def test_incremental_merge_equals_one_shot(spark, tmp_path):
    # streaming N batches through the state must equal sketching the
    # concatenated corpus in one shot — the merge-algebra contract
    batches = [["a a b c", "d a"], ["b b e"], ["a f f f"]]
    sk = StreamingSketch(spark, str(tmp_path / "st"), depth=3, width=64,
                         b=8, seed="s")
    for i, texts in enumerate(batches):
        sk.process_batch(_tok_df(spark, texts), batch_id=i)

    whole = _tok_df(spark, [t for b in batches for t in b])
    from bid_evaluation_ext.operators.sketch import cms_build
    oneshot = cms_build(whole, "key", depth=3, width=64, seed="s")
    merged = sk.cms()
    assert (merged.exceptAll(oneshot).count() == 0
            and oneshot.exceptAll(merged).count() == 0)

    est = {r["key"]: r["est"]
           for r in sk.estimate(whole.distinct()).collect()}
    assert est["a"] == 4 and est["f"] == 3 and est["e"] == 1

    (d,) = sk.distinct_estimate().collect()
    assert abs(d["estimate"] - 6) < 1.0     # {a b c d e f}
    assert sk.n_rows == 13          # 6 + 3 + 4 tokens across the batches


def test_replayed_batch_is_skipped(spark, tmp_path):
    sk = StreamingSketch(spark, str(tmp_path / "st"), width=64, b=8)
    sk.process_batch(_tok_df(spark, ["x x y"]), batch_id=0)
    before = {r["key"]: r["est"] for r in sk.estimate(
        _tok_df(spark, ["x y"]).distinct()).collect()}
    sk.process_batch(_tok_df(spark, ["x x y"]), batch_id=0)   # replay
    after = {r["key"]: r["est"] for r in sk.estimate(
        _tok_df(spark, ["x y"]).distinct()).collect()}
    assert before == after == {"x": 2, "y": 1}


def test_reopen_resumes_and_validates_shape(spark, tmp_path):
    path = str(tmp_path / "st")
    sk = StreamingSketch(spark, path, width=64, b=8, seed="q")
    sk.process_batch(_tok_df(spark, ["m n m"]), batch_id=7)

    re = StreamingSketch(spark, path, width=64, b=8, seed="q")
    assert re.version == sk.version and re.last_batch_id == 7
    est = {r["key"]: r["est"] for r in re.estimate(
        _tok_df(spark, ["m n"]).distinct()).collect()}
    assert est == {"m": 2, "n": 1}
    with pytest.raises(ValueError, match="shape"):
        StreamingSketch(spark, path, width=128, b=8, seed="q")


def test_foreachbatch_stream_drives_the_state(spark, tmp_path):
    src = str(tmp_path / "src")
    _tok_df(spark, ["p p q", "r p"]).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("key string").parquet(src)
    sk = StreamingSketch(spark, str(tmp_path / "st"), width=64, b=8)
    q = (sk.attach(stream, checkpoint=str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    est = {r["key"]: r["est"] for r in sk.estimate(
        _tok_df(spark, ["p q r"]).distinct()).collect()}
    assert est == {"p": 3, "q": 1, "r": 1}
    assert sk.last_batch_id is not None
