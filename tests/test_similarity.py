

# ------------------------------------------------------ hard-negative mining

def test_hard_negatives_are_cross_label_topk(spark):
    from bid_evaluation_ext.operators.similarity import hard_negatives
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 1),      # hardest cross-label for 0
        (2, [0.7, 0.7], 1),
        (3, [0.95, 0.31], 0),      # same label: NEVER a negative
        (4, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = hard_negatives(df, k=2,
                         anchors=df.filter("vec_id = 0")).collect()
    assert [r["negative_id"] for r in got] == [1, 2]
    assert all(r["anchor_id"] == 0 for r in got)
    assert all(r["negative_label"] != 0 for r in got)
    assert got[0]["rnk"] == 1 and got[0]["cosine"] > got[1]["cosine"]


def test_hard_negatives_max_cosine_routes_out_mislabeled_dups(spark):
    from bid_evaluation_ext.operators.similarity import hard_negatives
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.001], 1),      # near-identical, different label
        (2, [0.7, 0.7], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    all_n = hard_negatives(df, k=2, anchors=df.filter("vec_id = 0"))
    assert [r["negative_id"] for r in all_n.collect()] == [1, 2]
    gated = hard_negatives(df, k=2, max_cosine=0.95,
                           anchors=df.filter("vec_id = 0"))
    assert [r["negative_id"] for r in gated.collect()] == [2]


def test_hard_negatives_kernel_matches_join_engine(spark):
    """r12 optimization parity: the mapInPandas frontier kernel must
    reproduce the broadcast-crossJoin plan row-for-row (cosines
    bit-identical, same tie-breaks) on a messy corpus: multiple dims,
    null vectors, null labels, heavy ties, with and without a ceiling."""
    import random
    from bid_evaluation_ext.operators.similarity import hard_negatives
    rng = random.Random(12)
    rows = []
    for i in range(240):
        dim = rng.choice([3, 3, 3, 5])
        vec = [round(rng.uniform(-1, 1), 1) for _ in range(dim)]
        if i % 29 == 0:
            vec = None                      # unusable vector
        elif i % 31 == 0:
            vec = [0.0] * dim               # zero norm -> null cosine
        elif i % 41 == 0:
            vec[0] = None                   # null element -> null cosine
        lab = None if i % 37 == 0 else rng.randrange(3)
        rows.append((i, vec, lab))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    anchors = df.filter("vec_id % 11 = 0")
    for ceiling in (None, 0.8):
        fast = hard_negatives(df, k=3, max_cosine=ceiling, anchors=anchors,
                              engine="local")
        slow = hard_negatives(df, k=3, max_cosine=ceiling, anchors=anchors,
                              engine="join")
        key = ["anchor_id", "rnk"]
        assert sorted(map(tuple, fast.collect())) \
            == sorted(map(tuple, slow.collect())), f"ceiling={ceiling}"


def test_cosine_topk_kernel_matches_join_engine(spark, monkeypatch):
    """r12 opt parity for cosine_topk: the mapInPandas frontier kernel
    must reproduce the broadcast-crossJoin + window plan row-for-row
    (bit-identical cosines, identical rnk tie-breaks) on a messy
    corpus — multiple dims, null/ragged vectors, null elements, zero
    norms (Spark nulls /0), empty arrays, heavy ties, fewer than k real
    neighbors — under both exclude_self settings; the env cap must
    route auto back to the join engine."""
    import random
    from bid_evaluation_ext.operators.similarity import cosine_topk
    rng = random.Random(7)
    rows = []
    for i in range(150):
        dim = rng.choice([3, 3, 3, 4])
        vec = [round(rng.uniform(-1, 1), 1) for _ in range(dim)]
        if i % 23 == 0:
            vec = None
        elif i % 29 == 0:
            vec = [0.0] * dim               # zero norm -> null cosine
        elif i % 31 == 0:
            vec[0] = None                   # null element -> null cosine
        elif i % 37 == 0:
            vec = []                        # empty -> 0/0 -> null
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id % 13 = 0")
    for excl in (True, False):
        fast = cosine_topk(q, df, k=4, exclude_self=excl, engine="kernel")
        slow = cosine_topk(q, df, k=4, exclude_self=excl, engine="join")
        assert sorted(map(tuple, fast.collect())) \
            == sorted(map(tuple, slow.collect())), f"exclude_self={excl}"
    monkeypatch.setenv("SPARK_GRAFT_TOPK_LOCAL_MAX_QUERIES", "2")
    routed = cosine_topk(q, df, k=4)        # auto -> join above the cap
    assert sorted(map(tuple, routed.collect())) \
        == sorted(map(tuple,
                      cosine_topk(q, df, k=4, engine="join").collect()))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cosine_topk(q, df, k=4, engine="bogus")


def test_hard_negatives_auto_falls_back_above_anchor_cap(spark):
    from bid_evaluation_ext.operators.similarity import hard_negatives
    rows = [(i, [1.0, float(i)], i % 2) for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    capped = hard_negatives(df, k=2, max_local_anchors=3)   # 8 anchors > 3
    assert "MapInPandas" not in capped._jdf.queryExecution().toString()
    full = hard_negatives(df, k=2, engine="local")
    assert sorted(map(tuple, capped.collect())) \
        == sorted(map(tuple, full.collect()))
