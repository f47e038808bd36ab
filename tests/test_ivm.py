"""Incremental join maintenance: multiset equivalence of the delta
algebra vs full recompute."""

from collections import Counter

import pytest

from bid_evaluation_ext.operators.ivm import (join_insert_delta,
                                                refresh_join)


def _ms(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture
def tables(spark):
    a = spark.createDataFrame([(1, "a1"), (2, "a2"), (2, "a2x")],
                              "k long, av string")
    da = spark.createDataFrame([(2, "a3"), (9, "a9")], "k long, av string")
    b = spark.createDataFrame([(1, "b1"), (2, "b2")], "k long, bv string")
    db = spark.createDataFrame([(2, "b3"), (9, "b9"), (7, "b7")],
                               "k long, bv string")
    return a, da, b, db


def test_delta_algebra_multiset_exact(spark, tables):
    a, da, b, db = tables
    full_new = _ms(a.unionByName(da).join(b.unionByName(db), "k"))
    incremental = _ms(a.join(b, "k"))
    incremental.update(_ms(join_insert_delta(a, da, b, db, "k")))
    assert incremental == full_new


def test_refresh_join_equals_full(spark, tables):
    a, da, b, db = tables
    mat = a.join(b, "k")
    refreshed = _ms(refresh_join(mat, a, da, b, db, "k"))
    assert refreshed == _ms(a.unionByName(da).join(b.unionByName(db), "k"))


def test_empty_deltas_add_nothing(spark, tables):
    a, da, b, db = tables
    empty_a = da.limit(0)
    empty_b = db.limit(0)
    assert join_insert_delta(a, empty_a, b, empty_b, "k").count() == 0


def test_composite_key(spark):
    a = spark.createDataFrame([(1, 10, "x")], "k1 long, k2 long, av string")
    da = spark.createDataFrame([(1, 20, "y")], "k1 long, k2 long, av string")
    b = spark.createDataFrame([(1, 10, "p"), (1, 20, "q")],
                              "k1 long, k2 long, bv string")
    db = b.limit(0)
    out = _ms(join_insert_delta(a, da, b, db, ["k1", "k2"]))
    assert out == Counter({(1, 20, "y", "q"): 1})
