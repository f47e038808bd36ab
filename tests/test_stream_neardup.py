"""Streaming MinHash-LSH near-dup filter: batch-twin parity on
copy-clusters, intra-batch self-dedup, replay idempotency, restart from
the manifest, shape validation, and the live foreachBatch path."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.dedup import neardup_mark_ordered
from bid_evaluation_ext.streaming.neardup import StreamingNearDup

BASES = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "spark catalyst optimizer rewrites logical plans into physical plans",
    "a completely unrelated document about geodetic radius joins at scale",
    "minhash banding turns jaccard similarity into equality on band keys",
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _copy_corpus():
    """Copies of base docs: ids 0-3 originals, 10-13 exact copies,
    20-21 more copies — every member collides with its cluster minimum,
    so streaming representative filtering == the pairwise batch twin."""
    rows = [(i, t) for i, t in enumerate(BASES)]
    rows += [(10 + i, BASES[i]) for i in range(4)]
    rows += [(20, BASES[0]), (21, BASES[2])]
    return rows


def test_stream_matches_batch_twin_on_copy_clusters(spark, tmp_path):
    rows = _copy_corpus()
    nd = StreamingNearDup(spark, str(tmp_path / "st"))
    # id-ordered batches = arrival order stands in for id order
    for bid, lo, hi in ((0, 0, 10), (1, 10, 20), (2, 20, 30)):
        batch = [(i, t) for i, t in rows if lo <= i < hi]
        nd.process_batch(_docs(spark, batch), batch_id=bid)

    got = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
           for r in nd.flags().collect()}
    want = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
            for r in neardup_mark_ordered(_docs(spark, rows)).collect()}
    assert got == want
    assert got[10] == (True, 0) and got[21] == (True, 2)
    assert not got[0][0] and not got[3][0]
    assert nd.n_docs == 10 and nd.n_retained == 4


def test_intra_batch_self_dedup(spark, tmp_path):
    nd = StreamingNearDup(spark, str(tmp_path / "st"))
    nd.process_batch(_docs(spark, [(5, BASES[0]), (6, BASES[0]),
                                   (7, BASES[1])]), batch_id=0)
    got = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
           for r in nd.flags().collect()}
    assert got == {5: (False, None), 6: (True, 5), 7: (False, None)}


def test_short_and_empty_docs_pass_through(spark, tmp_path):
    nd = StreamingNearDup(spark, str(tmp_path / "st"))
    nd.process_batch(_docs(spark, [(1, "only two"), (2, ""), (3, None),
                                   (4, BASES[0])]), batch_id=0)
    got = {r["doc_id"]: r["is_near_dup"] for r in nd.flags().collect()}
    assert got == {1: False, 2: False, 3: False, 4: False}


def test_replayed_batch_is_skipped(spark, tmp_path):
    nd = StreamingNearDup(spark, str(tmp_path / "st"))
    nd.process_batch(_docs(spark, [(1, BASES[0])]), batch_id=0)
    nd.process_batch(_docs(spark, [(2, BASES[0])]), batch_id=1)
    v, n = nd.version, nd.n_docs
    nd.process_batch(_docs(spark, [(2, BASES[0])]), batch_id=1)  # replay
    assert nd.version == v and nd.n_docs == n
    got = {r["doc_id"]: r["is_near_dup"] for r in nd.flags().collect()}
    assert got == {1: False, 2: True}
    assert nd.flags().count() == 2  # no duplicate flag rows from the replay


def test_new_query_identity_processes_restarted_batch_ids(spark, tmp_path):
    """Batch ids are monotonic only WITHIN one streaming query: attaching
    existing state to a NEW query (ids restart at 0) must process, not
    silently skip; the replay skip applies only under the SAME query
    token (ADVICE r8)."""
    nd = StreamingNearDup(spark, str(tmp_path / "st"))
    nd.process_batch(_docs(spark, [(1, BASES[0])]), batch_id=5,
                     query_token="q1")
    v = nd.version
    # same token, replayed id → skipped (at-least-once idempotency)
    nd.process_batch(_docs(spark, [(2, BASES[1])]), batch_id=5,
                     query_token="q1")
    assert nd.version == v
    # NEW query identity restarts batch ids at 0 → processed against state
    nd.process_batch(_docs(spark, [(3, BASES[0])]), batch_id=0,
                     query_token="q2")
    got = {r["doc_id"]: r["is_near_dup"] for r in nd.flags().collect()}
    assert got == {1: False, 3: True}
    # the token survives the manifest round-trip
    re = StreamingNearDup(spark, str(tmp_path / "st"))
    assert re.last_query_token == "q2" and re.last_batch_id == 0
    # ...so a replay of the new query's batch 0 is again skipped
    re.process_batch(_docs(spark, [(4, BASES[2])]), batch_id=0,
                     query_token="q2")
    assert re.flags().count() == 2


def test_reopen_resumes_and_validates_shape(spark, tmp_path):
    path = str(tmp_path / "st")
    nd = StreamingNearDup(spark, path, num_perm=16, bands=4, seed="q")
    nd.process_batch(_docs(spark, [(1, BASES[0]), (2, BASES[1])]),
                     batch_id=7)
    re = StreamingNearDup(spark, path, num_perm=16, bands=4, seed="q")
    assert re.version == nd.version and re.last_batch_id == 7
    re.process_batch(_docs(spark, [(9, BASES[0])]), batch_id=8)
    got = {r["doc_id"]: (r["is_near_dup"], r["dup_of"])
           for r in re.flags().collect()}
    assert got[9] == (True, 1)
    with pytest.raises(ValueError, match="shape"):
        StreamingNearDup(spark, path, num_perm=32, bands=4, seed="q")


def test_foreachbatch_stream_drives_the_state(spark, tmp_path):
    src = str(tmp_path / "src")
    # two files + maxFilesPerTrigger=1 → two micro-batches in file order
    _docs(spark, [(1, BASES[0]), (2, BASES[1])]).coalesce(1) \
        .write.parquet(src + "/f0")
    _docs(spark, [(3, BASES[0]), (4, BASES[2])]).coalesce(1) \
        .write.parquet(src + "/f1")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/f*"))
    nd = StreamingNearDup(spark, str(tmp_path / "st"))
    q = (nd.attach(stream, checkpoint=str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: r["is_near_dup"] for r in nd.flags().collect()}
    assert got[1] is False and got[2] is False and got[4] is False
    assert got[3] is True  # copy of doc 1, seen in the earlier batch
    assert nd.last_batch_id is not None and nd.n_docs == 4
