"""Link prediction (graph.link_prediction) + item-item CF (recs)."""

from __future__ import annotations

import math

import pytest

from bid_evaluation_ext.operators.graph import link_prediction
from bid_evaluation_ext.operators.recs import item_item_cosine


@pytest.fixture
def inc(spark):
    # containers: c1={1,2,3}, c2={1,2}, c3={2,3,4}, c4={9} (size-1, no pairs)
    rows = [("c1", 1), ("c1", 2), ("c1", 3),
            ("c2", 1), ("c2", 2),
            ("c3", 2), ("c3", 3), ("c3", 4),
            ("c4", 9)]
    return spark.createDataFrame(rows, "c string, n long")


def test_link_prediction_scores(inc):
    out = {(r["node_a"], r["node_b"]): r
           for r in link_prediction(inc, "c", "n").collect()}
    # pair (1,2): shares c1 (size 3) and c2 (size 2)
    r = out[(1, 2)]
    assert r["common"] == 2
    assert r["adamic_adar"] == pytest.approx(
        1 / math.log(3) + 1 / math.log(2), abs=1e-3)
    # deg(1)=2 (c1,c2), deg(2)=3 (c1,c2,c3) -> jaccard = 2/(2+3-2)
    assert r["jaccard"] == pytest.approx(2 / 3, abs=1e-3)
    # pair (3,4): share c3 only
    assert out[(3, 4)]["common"] == 1
    assert out[(3, 4)]["adamic_adar"] == pytest.approx(1 / math.log(3),
                                                       abs=1e-3)
    assert (9, 9) not in out and not any(9 in k for k in out)


def test_link_prediction_hub_cap_drops_container(inc):
    out = link_prediction(inc, "c", "n", max_container_size=2).collect()
    pairs = {(r["node_a"], r["node_b"]) for r in out}
    assert pairs == {(1, 2)}  # only c2 survives the cap
    r = out[0]
    # degrees recomputed on capped incidence: deg(1)=deg(2)=1
    assert r["jaccard"] == pytest.approx(1.0, abs=1e-9)


def test_link_prediction_min_common(inc):
    pairs = {(r["node_a"], r["node_b"])
             for r in link_prediction(inc, "c", "n",
                                      min_common=2).collect()}
    assert pairs == {(1, 2), (2, 3)}


def test_item_item_cosine_values(spark):
    # users -> items; u1:{a,b}, u2:{a,b}, u3:{a,c}, u4:{b,c}
    rows = [("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b"),
            ("u3", "a"), ("u3", "c"), ("u4", "b"), ("u4", "c")]
    df = spark.createDataFrame(rows, "u string, i string")
    out = item_item_cosine(df, "u", "i", k=5, min_common=1).collect()
    by = {(r["item"], r["neighbor"]): r for r in out}
    # n_a = 3, n_b = 3, common(a,b) = 2
    assert by[("a", "b")]["cosine"] == pytest.approx(2 / 3, abs=1e-3)
    assert by[("b", "a")]["cosine"] == by[("a", "b")]["cosine"]
    assert by[("a", "c")]["common"] == 1
    # ranking: for item a, b (0.6667) beats c (1/sqrt(6)=0.4082)
    assert by[("a", "b")]["rnk"] == 1 and by[("a", "c")]["rnk"] == 2


def test_item_item_cosine_topk_and_dedup(spark):
    rows = [("u1", "a"), ("u1", "a"),  # duplicate interaction collapses
            ("u1", "b"), ("u1", "c"), ("u1", "d")]
    df = spark.createDataFrame(rows, "u string, i string")
    out = item_item_cosine(df, "u", "i", k=2, min_common=1).collect()
    per_item = {}
    for r in out:
        per_item.setdefault(r["item"], []).append(r)
    for item, rs in per_item.items():
        assert len(rs) <= 2
        # all cosines are 1.0 here -> tie broken by neighbor asc
        ns = [r["neighbor"] for r in sorted(rs, key=lambda r: r["rnk"])]
        assert ns == sorted(ns)


def test_item_item_cosine_user_cap(spark):
    rows = [("hub", x) for x in "abcdefgh"] + [("u1", "a"), ("u1", "b")]
    df = spark.createDataFrame(rows, "u string, i string")
    out = item_item_cosine(df, "u", "i", k=3, max_user_items=4,
                           min_common=1).collect()
    # hub dropped: only (a,b) via u1 remains, with degrees from u1 only
    by = {(r["item"], r["neighbor"]): r for r in out}
    assert set(by) == {("a", "b"), ("b", "a")}
    assert by[("a", "b")]["cosine"] == pytest.approx(1.0, abs=1e-9)


def test_item_item_cosine_rejects_bad_k(spark):
    df = spark.createDataFrame([("u", "i")], "u string, i string")
    with pytest.raises(ValueError):
        item_item_cosine(df, "u", "i", k=0)


# ---- r13 dual-engine parity (kernel vs join; VERDICT r12 task 4) ----

def _rec_rows(df, **kw):
    return sorted(map(tuple, item_item_cosine(df, "u", "i", **kw).collect()))


def _lp_rows(df, **kw):
    return sorted(map(tuple, link_prediction(df, "u", "i", **kw).collect()))


@pytest.fixture
def rand_inc(spark):
    import random
    rng = random.Random(13)
    rows = [(rng.randint(0, 60), rng.randint(0, 25)) for _ in range(800)]
    return spark.createDataFrame(rows, "u long, i long")


def test_item_item_cosine_kernel_matches_join(rand_inc):
    kw = dict(k=4, max_user_items=10, min_common=2)
    assert _rec_rows(rand_inc, engine="kernel", **kw) == \
        _rec_rows(rand_inc, engine="join", **kw)
    # auto picks the kernel here (under the cap) and must agree too
    assert _rec_rows(rand_inc, **kw) == _rec_rows(rand_inc,
                                                  engine="join", **kw)


def test_link_prediction_kernel_matches_join(rand_inc):
    kw = dict(max_container_size=10, min_common=2)
    assert _lp_rows(rand_inc, engine="kernel", **kw) == \
        _lp_rows(rand_inc, engine="join", **kw)
    assert _lp_rows(rand_inc, **kw) == _lp_rows(rand_inc,
                                                engine="join", **kw)


def test_pair_kernels_force_distributed_env(rand_inc, monkeypatch):
    # SPARK_GRAFT_FORCE_DISTRIBUTED=1 zeroes every dispatch cap: auto
    # must take the join route and still produce identical values
    from bid_evaluation_ext.dispatch import local_cap
    monkeypatch.setenv("SPARK_GRAFT_FORCE_DISTRIBUTED", "1")
    assert local_cap("SPARK_GRAFT_REC_LOCAL_MAX_ROWS", 4_000_000) == 0
    kw = dict(k=4, max_user_items=10, min_common=2)
    forced = _rec_rows(rand_inc, **kw)
    monkeypatch.delenv("SPARK_GRAFT_FORCE_DISTRIBUTED")
    assert forced == _rec_rows(rand_inc, **kw)


def test_pair_kernels_bad_engine(rand_inc):
    with pytest.raises(ValueError, match="engine"):
        item_item_cosine(rand_inc, "u", "i", engine="bogus")
    with pytest.raises(ValueError, match="engine"):
        link_prediction(rand_inc, "u", "i", engine="bogus")
