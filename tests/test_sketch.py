"""Count-min + HLL sketches: upper-bound/collision contracts, determinism,
merge-ability, null handling, estimate-accuracy bounds, error paths."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.sketch import (
    cms_build, cms_lookup, cms_topk, hll_distinct,
)


@pytest.fixture()
def word_docs(spark):
    rows = [(0, "a a a b b c"), (1, "a b c d e"), (2, "a a d d d")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cms_estimate_is_exact_without_collisions(word_docs):
    # width 1024 >> 5 distinct tokens: no collisions, est == true count
    got = {r["token"]: (r["est"], r["exact"])
           for r in cms_topk(word_docs, k=10, with_exact=True).collect()}
    assert got == {"a": (6, 6), "b": (3, 3), "c": (2, 2), "d": (4, 4),
                   "e": (1, 1)}


def test_cms_is_an_upper_bound_under_collisions(word_docs):
    # width 2 forces collisions: estimates may inflate but NEVER undercount
    rows = cms_topk(word_docs, k=10, depth=2, width=2,
                    with_exact=True).collect()
    assert len(rows) == 5
    assert all(r["est"] >= r["exact"] for r in rows)
    assert sum(r["est"] for r in rows) > sum(r["exact"] for r in rows)


def test_cms_topk_order_and_limit(word_docs):
    rows = cms_topk(word_docs, k=3).collect()
    assert [(r["token"], r["est"]) for r in rows] == [
        ("a", 6), ("d", 4), ("b", 3)]


def test_cms_sketch_cells_bounded_and_mergeable(spark):
    # the sketch table never exceeds depth x width cells, and building on a
    # union equals cell-wise summing the two halves' sketches (merge = +)
    rng = np.random.default_rng(3)
    toks = [(f"w{rng.integers(0, 50)}",) for _ in range(400)]
    a = spark.createDataFrame(toks[:200], "k string")
    b = spark.createDataFrame(toks[200:], "k string")
    whole = cms_build(a.union(b), "k", depth=3, width=16)
    assert whole.count() <= 3 * 16
    merged = (cms_build(a, "k", depth=3, width=16)
              .union(cms_build(b, "k", depth=3, width=16))
              .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))
    assert (whole.exceptAll(merged).count() == 0
            and merged.exceptAll(whole).count() == 0)


def test_cms_null_keys_counted_via_sentinel(spark):
    df = spark.createDataFrame([("x",), (None,), (None,)], "k string")
    sketch = cms_build(df, "k")
    est = {r["k"]: r["est"]
           for r in cms_lookup(sketch, df.distinct(), "k").collect()}
    assert est[None] == 2 and est["x"] == 1


def test_cms_lookup_unseen_key_is_zero_when_bucket_empty(spark):
    df = spark.createDataFrame([("x",)], "k string")
    sketch = cms_build(df, "k", width=1 << 20)
    probe = spark.createDataFrame([("never-seen",)], "k string")
    (row,) = cms_lookup(sketch, probe, "k", width=1 << 20).collect()
    assert row["est"] == 0


def test_cms_build_validates_shape(word_docs):
    with pytest.raises(ValueError, match="depth"):
        cms_build(word_docs, "text", depth=0)


def test_hll_small_range_is_nearly_exact(spark):
    # 200 distinct keys, m=1024 registers: linear-counting regime, tight
    df = spark.createDataFrame([(i,) for i in range(200)], "k long")
    (row,) = hll_distinct(df, "k", b=10, with_exact=True).collect()
    assert row["exact"] == 200
    assert abs(row["estimate"] - 200) / 200 < 0.05
    assert row["m"] == 1024


def test_hll_estimate_within_stderr_bounds(spark):
    # 5000 distinct at m=256: raw-estimator regime; 1.04/sqrt(m) ~ 6.5%,
    # allow 4 sigma
    df = spark.createDataFrame([(f"id{i}",) for i in range(5000)], "k string")
    (row,) = hll_distinct(df, "k", b=8).collect()
    rel = abs(row["estimate"] - 5000) / 5000
    assert rel < 4 * 1.04 / math.sqrt(256), (row["estimate"], rel)


def test_hll_duplicates_do_not_move_the_estimate(spark):
    once = spark.createDataFrame([(i,) for i in range(300)], "k long")
    thrice = once.union(once).union(once)
    (a,) = hll_distinct(once, "k", b=9).collect()
    (b,) = hll_distinct(thrice, "k", b=9).collect()
    assert a["estimate"] == b["estimate"]


def test_hll_null_counts_as_one_key(spark):
    df = spark.createDataFrame([(None,), (None,), (1,)], "k long")
    (row,) = hll_distinct(df, "k", b=10, with_exact=True).collect()
    assert row["exact"] == 2
    assert abs(row["estimate"] - 2) < 1


def test_hll_validates_b(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="b must be"):
        hll_distinct(df, "k", b=2)


def test_hll_by_group_matches_per_group_global(spark):
    """The grouped sketch must equal the global sketch run on each group's
    subset — same registers, same estimate."""
    from bid_evaluation_ext.operators.sketch import (
        hll_distinct, hll_distinct_by_group)

    rows = [(f"g{i % 3}", f"k{(i * 7) % 40}") for i in range(500)]
    rows += [("g0", None)]   # null key counts as one key
    df = spark.createDataFrame(rows, "g string, k string")
    grouped = {r["g"]: r for r in
               hll_distinct_by_group(df, "g", "k", b=6).collect()}
    assert set(grouped) == {"g0", "g1", "g2"}
    for g in sorted(grouped):
        sub = df.filter(F.col("g") == g)
        ref = hll_distinct(sub, "k", b=6).collect()[0]
        assert grouped[g]["estimate"] == pytest.approx(ref["estimate"],
                                                       rel=1e-12)
        assert grouped[g]["zero_registers"] == ref["zero_registers"]
        # sanity: estimate lands near the true distinct count
        exact = sub.select("k").distinct().count()
        assert abs(grouped[g]["estimate"] - exact) / exact < 0.35


def test_cms_topk_by_group_matches_per_group_global(spark):
    """Grouped CMS top-k must equal the global cms_topk run on each
    group's subset (same cells, same estimates, same ranking)."""
    from bid_evaluation_ext.operators.sketch import (
        cms_topk, cms_topk_by_group)

    rows = [("g0", "alpha beta alpha gamma alpha beta"),
            ("g0", "beta delta beta"),
            ("g1", "zeta zeta eta theta zeta eta")]
    df = spark.createDataFrame(rows, "g string, text string")
    grouped = {}
    for r in cms_topk_by_group(df, "g", "text", k=3,
                               with_exact=True).collect():
        grouped.setdefault(r["g"], []).append(
            (r["token"], r["est"], r["exact"]))
    for g in ("g0", "g1"):
        sub = df.filter(F.col("g") == g)
        ref = [(r["token"], r["est"], r["exact"])
               for r in cms_topk(sub, "text", k=3, with_exact=True).collect()]
        assert grouped[g] == ref, g
    assert grouped["g0"][0] == ("beta", 4, 4)   # est == exact (no collision)


class TestHllOverlap:
    def _corpus(self, spark, lo, hi):
        return spark.createDataFrame([(f"k{i}",) for i in range(lo, hi)],
                                     "k string")

    def test_estimates_track_exact_overlap(self, spark):
        from bid_evaluation_ext.operators.sketch import hll_overlap

        a = self._corpus(spark, 0, 3000)       # |A|=3000
        b = self._corpus(spark, 2000, 5000)    # |B|=3000, overlap 1000
        out = hll_overlap(a, b, "k", b=10).collect()[0]
        # HLL rel error ~3% at m=1024; differences widen it — allow 15%
        assert out["est_a"] == pytest.approx(3000, rel=0.1)
        assert out["est_union"] == pytest.approx(5000, rel=0.1)
        assert out["est_intersection"] == pytest.approx(1000, rel=0.35)
        want_j = 1000 / 5000
        assert out["jaccard"] == pytest.approx(want_j, abs=0.08)

    def test_disjoint_and_identical(self, spark):
        from bid_evaluation_ext.operators.sketch import hll_overlap

        a = self._corpus(spark, 0, 2000)
        d = self._corpus(spark, 10000, 12000)
        dis = hll_overlap(a, d, "k", b=10).collect()[0]
        assert dis["jaccard"] < 0.1            # near-zero, clamped >= 0
        assert dis["est_intersection"] >= 0.0
        same = hll_overlap(a, self._corpus(spark, 0, 2000),
                           "k", b=10).collect()[0]
        # identical corpora: union sketch == each sketch exactly
        assert same["est_union"] == same["est_a"] == same["est_b"]
        assert same["jaccard"] == pytest.approx(1.0)
