"""Streaming perceptual-hash near-dup filter: batch-twin parity on
copy/near-clusters, hamming verification (band collision alone must NOT
flag), replay + query-token idempotency, restart, and the live
foreachBatch path."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.streaming.hashdup import (
    StreamingHashNearDup,
    hash_neardup_mark_ordered,
)

# base hashes far apart (>48 bits); "near" variants flip ≤3 bits
BASE = [0x9234_5678_9ABC_DEF0 - (1 << 64),   # negative long (bit 63 set)
        0x0F0F_0F0F_0F0F_0F0F,
        0x00FF_00FF_00FF_00FF,
        -1]


def _near(h, bits):
    u = h & (2 ** 64 - 1)
    for b in bits:
        u ^= 1 << b
    return u - (1 << 64) if u >= (1 << 63) else u


def _hashes(spark, rows):
    return spark.createDataFrame(rows, "media_id long, fp64 long")


def test_batch_marker_pairwise_semantics(spark):
    rows = [(0, BASE[0]), (1, BASE[1]), (2, _near(BASE[0], [3])),
            (3, _near(BASE[1], [9, 17, 40])), (4, BASE[2]),
            # shares band 0 with BASE[2] but differs in 24+ bits → clean
            (5, _near(BASE[2], [8, 9, 10, 16, 17, 18, 24, 25, 26])),
            (6, None)]
    got = {r["media_id"]: (r["is_near_dup"], r["dup_of"])
           for r in hash_neardup_mark_ordered(_hashes(spark, rows),
                                              max_hamming=6).collect()}
    assert got[0] == (False, None) and got[1] == (False, None)
    assert got[2] == (True, 0) and got[3] == (True, 1)
    assert got[4] == (False, None) and got[5] == (False, None)
    # null hashes can't witness or be near-dups but still get a verdict
    assert got[6] == (False, None)
    with pytest.raises(ValueError):
        hash_neardup_mark_ordered(_hashes(spark, rows), max_hamming=8)


def test_stream_matches_batch_twin_on_clusters(spark, tmp_path):
    rows = [(i, BASE[i]) for i in range(4)]
    rows += [(10 + i, _near(BASE[i], [i])) for i in range(4)]
    rows += [(20, BASE[0]), (21, _near(BASE[2], [5, 33]))]
    nd = StreamingHashNearDup(spark, str(tmp_path / "st"))
    for bid, batch in enumerate([rows[:4], rows[4:8], rows[8:]]):
        nd.process_batch(_hashes(spark, batch), batch_id=bid)
    stream = {r["media_id"]: (r["is_near_dup"], r["dup_of"])
              for r in nd.flags().collect()}
    batch = {r["media_id"]: (r["is_near_dup"], r["dup_of"])
             for r in hash_neardup_mark_ordered(
                 _hashes(spark, rows)).collect()}
    # every cluster member collides with (and verifies against) the
    # cluster minimum here, so representative filtering == pairwise
    assert stream == batch
    assert stream[10] == (True, 0) and stream[20] == (True, 0)
    assert nd.n_retained == 4


def test_band_collision_without_closeness_does_not_flag(spark, tmp_path):
    nd = StreamingHashNearDup(spark, str(tmp_path / "st"))
    nd.process_batch(_hashes(spark, [(1, BASE[2])]), batch_id=0)
    # same low band as BASE[2], 27 bits apart overall → retained
    far = _near(BASE[2], [8 + i for i in range(27)])
    nd.process_batch(_hashes(spark, [(2, far)]), batch_id=1)
    got = {r["media_id"]: r["is_near_dup"] for r in nd.flags().collect()}
    assert got == {1: False, 2: False}
    assert nd.state().count() > 8  # both docs' bands retained


def test_replay_and_query_token(spark, tmp_path):
    nd = StreamingHashNearDup(spark, str(tmp_path / "st"))
    nd.process_batch(_hashes(spark, [(1, BASE[0])]), batch_id=3,
                     query_token="q1")
    v = nd.version
    nd.process_batch(_hashes(spark, [(2, BASE[1])]), batch_id=3,
                     query_token="q1")   # replay → skipped
    assert nd.version == v
    nd.process_batch(_hashes(spark, [(3, _near(BASE[0], [2]))]),
                     batch_id=0, query_token="q2")  # new query → processed
    got = {r["media_id"]: r["is_near_dup"] for r in nd.flags().collect()}
    assert got == {1: False, 3: True}


def test_reopen_and_shape_validation(spark, tmp_path):
    path = str(tmp_path / "st")
    nd = StreamingHashNearDup(spark, path, max_hamming=4)
    nd.process_batch(_hashes(spark, [(1, BASE[3])]), batch_id=0)
    re = StreamingHashNearDup(spark, path, max_hamming=4)
    assert re.version == nd.version and re.last_batch_id == 0
    re.process_batch(_hashes(spark, [(2, _near(BASE[3], [7, 42]))]),
                     batch_id=1)
    got = {r["media_id"]: (r["is_near_dup"], r["dup_of"])
           for r in re.flags().collect()}
    assert got[2] == (True, 1)
    with pytest.raises(ValueError, match="max_hamming"):
        StreamingHashNearDup(spark, path, max_hamming=6)


def test_foreachbatch_stream_drives_the_state(spark, tmp_path):
    src = str(tmp_path / "src")
    _hashes(spark, [(1, BASE[0]), (2, BASE[1])]).coalesce(1) \
        .write.parquet(src + "/f0")
    _hashes(spark, [(3, _near(BASE[0], [11])), (4, BASE[2])]).coalesce(1) \
        .write.parquet(src + "/f1")
    stream = (spark.readStream.schema("media_id long, fp64 long")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/f*"))
    nd = StreamingHashNearDup(spark, str(tmp_path / "st"))
    q = (nd.attach(stream, checkpoint=str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["media_id"]: r["is_near_dup"] for r in nd.flags().collect()}
    assert got == {1: False, 2: False, 3: True, 4: False}
    assert nd.n_docs == 4 and nd.n_retained == 3
