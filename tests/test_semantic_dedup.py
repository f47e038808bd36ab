"""SemDeDup-style semantic dedup: recall vs exact all-pairs, keep-one
semantics, and pre-trained-centroid reuse."""

import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.dedup import (
    embedding_near_duplicates,
    semantic_dedup,
    semantic_dedup_pairs,
)
from bid_evaluation_ext.operators.similarity import (
    assign_clusters,
    kmeans_centroids,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"
T = 0.35


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB).cache()


def _pairset(df):
    return {(r["a_id"], r["b_id"]) for r in df.collect()}


def test_semantic_pairs_recall_vs_exact(spark, emb):
    # exact all-pairs: a single constant block verifies everything
    exact = _pairset(embedding_near_duplicates(
        emb.withColumn("_one", F.lit(0)), threshold=T, block_col="_one"))
    assert exact, "testdata must contain near-duplicate pairs at this threshold"
    got = _pairset(semantic_dedup_pairs(emb, threshold=T, n_clusters=8, nprobe=3, seed=7))
    assert got <= exact  # within-cluster verify is exact → no false pairs
    recall = len(got) / len(exact)
    # deterministic (seeded kmeans + seeded salting) → a pinned floor, not a
    # flaky statistical bound; learned blocks catch most same-cluster pairs
    assert recall >= 0.85, f"recall {recall:.3f} collapsed"


def test_semantic_dedup_keeps_min_id_per_group(spark, emb):
    pairs = semantic_dedup_pairs(emb, threshold=T, n_clusters=8, nprobe=3, seed=7)
    kept = {r["vec_id"] for r in
            semantic_dedup(emb, threshold=T, n_clusters=8, nprobe=3, seed=7).collect()}
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert kept <= all_ids
    # reconstruct components by hand; exactly the min id of each survives
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _pairset(pairs):
        parent[find(a)] = find(b)
    comps = {}
    for node in list(parent):
        comps.setdefault(find(node), set()).add(node)
    expected_dropped = set()
    for members in comps.values():
        expected_dropped |= members - {min(members)}
    assert all_ids - kept == expected_dropped


def test_assign_clusters_matches_argmin(spark, emb):
    cents = kmeans_centroids(emb.select(F.col("embedding").alias("_v")),
                             vec_col="_v", k=4, seed=7)
    out = assign_clusters(emb, cents, out_col="c")
    import numpy as np
    rows = out.select("embedding", "c").collect()
    C = np.asarray(cents, dtype=np.float64)
    for r in rows[:50]:
        x = np.asarray(r["embedding"], dtype=np.float64)
        want = int(np.argmin(((C - x) ** 2).sum(axis=1)))
        assert r["c"] == want


def test_semantic_dedup_pretrained_centroids(spark, emb):
    cents = kmeans_centroids(emb.select(F.col("embedding").alias("_v")),
                             vec_col="_v", k=8, seed=7)
    a = {r["vec_id"] for r in
         semantic_dedup(emb, threshold=T, n_clusters=8, nprobe=3, seed=7).collect()}
    b = {r["vec_id"] for r in
         semantic_dedup(emb, threshold=T, nprobe=3, seed=7, centroids=cents).collect()}
    assert a == b  # fitting inline or passing the matrix is the same model
