"""Streaming incremental IVF index maintenance (streaming/ivf.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.similarity import ivf_topk, kmeans_centroids
from bid_evaluation_ext.streaming.ivf import StreamingIVFIndex, bootstrap_index

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(EMB)


@pytest.fixture(scope="module")
def cents(corpus):
    return kmeans_centroids(corpus, k=8, seed=7)


def test_frozen_centroid_search_matches_batch_ivf(spark, corpus, cents, tmp_path):
    # same centroids + frozen updates → the incremental index IS the batch
    # IVF assignment, so search must match ivf_topk exactly
    idx = StreamingIVFIndex(spark, str(tmp_path / "ivf"), cents,
                            update_centroids=False)
    for part in (corpus.filter(F.col("vec_id") % 3 == r) for r in range(3)):
        idx.process_batch(part)
    queries = corpus.filter(F.col("vec_id") < 20)
    got = sorted(tuple(r) for r in idx.search(
        queries, k=5, nprobe=3, exclude_self=True).collect())
    want = sorted(tuple(r) for r in ivf_topk(
        queries, corpus, centroids=cents, k=5, nprobe=3).collect())
    assert got == want


def test_streaming_ingest_via_foreachbatch(spark, corpus, cents, tmp_path):
    src = str(tmp_path / "src")
    corpus.repartition(4).write.parquet(src)
    idx = StreamingIVFIndex(spark, str(tmp_path / "ivf"), cents)
    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 2).parquet(src)
    q = idx.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(120)
    n = corpus.count()
    assert idx.lists().count() == n
    assert int(idx.counts.sum()) == n
    # running-mean invariant: centroid == sums / counts for non-empty lists
    nz = idx.counts > 0
    assert np.allclose(idx.centroids[nz], idx.sums[nz] / idx.counts[nz, None])
    assert (idx.drift() >= 0).all()
    # restart from disk: state snapshot fully restores the index
    again = StreamingIVFIndex(spark, str(tmp_path / "ivf"), cents)
    assert np.array_equal(again.centroids, idx.centroids)
    assert np.array_equal(again.counts, idx.counts)
    assert again.last_batch == idx.last_batch
    # replayed batch ids are skipped (foreachBatch restart idempotency)
    again.process_batch(corpus, batch_id=again.last_batch)
    assert again.lists().count() == n


def test_search_prunes_unprobed_partitions(spark, corpus, cents, tmp_path):
    idx = bootstrap_index(spark, corpus, str(tmp_path / "ivf"), n_clusters=8,
                          seed=7, update_centroids=False)
    queries = corpus.filter(F.col("vec_id") < 5)
    plan = idx.search(queries, k=3, nprobe=2)._jdf.queryExecution() \
        .executedPlan().toString()
    # the probe filter must reach the scan as a partition filter (pruned
    # directory listing), not a post-scan row filter over every list
    assert "PartitionFilters: [list_id" in plan
    got = {r["query_id"] for r in idx.search(queries, k=3, nprobe=2).collect()}
    assert got == {0, 1, 2, 3, 4}


def test_centroids_follow_the_data(spark, cents, tmp_path):
    # two far-apart blobs streamed in: updated centroids end at the blob
    # means, far from the trained positions (drift signal fires)
    rng = np.random.default_rng(3)
    dim = cents.shape[1]
    blob_a = rng.normal(5.0, 0.1, (40, dim))
    blob_b = rng.normal(-5.0, 0.1, (40, dim))
    df = spark.createDataFrame(
        [(i, v.astype("float32").tolist())
         for i, v in enumerate(np.vstack([blob_a, blob_b]))],
        "vec_id long, embedding array<float>")
    two = np.vstack([np.full(dim, 4.0), np.full(dim, -4.0)])
    idx = StreamingIVFIndex(spark, str(tmp_path / "ivf"), two)
    idx.process_batch(df)
    assert np.allclose(idx.centroids[0], blob_a.mean(axis=0), atol=0.2)
    assert np.allclose(idx.centroids[1], blob_b.mean(axis=0), atol=0.2)
    assert (idx.drift() > 0.5).all()
