"""Market-basket association rules: hand-computed supports, Apriori
pruning, set semantics, basket-size guard, null handling."""

import pytest

from bid_evaluation_ext.operators.basket import (association_rules,
                                                   item_supports)


@pytest.fixture
def baskets(spark):
    # b1:{a,b,c} b2:{a,b} b3:{a,b} b4:{a,c} b5:{c}  (5 baskets)
    rows = [(1, "a"), (1, "b"), (1, "c"),
            (2, "a"), (2, "b"),
            (3, "a"), (3, "b"),
            (4, "a"), (4, "c"),
            (5, "c")]
    return spark.createDataFrame(rows, "b long, i string")


def _rules(df, **kw):
    out = association_rules(df, "b", "i", **kw).collect()
    return {(r["antecedent"], r["consequent"]): r.asDict() for r in out}


def test_hand_computed_rules(baskets):
    r = _rules(baskets, min_count=2)
    # supports: a=4 b=3 c=3; pairs: ab=3 ac=2 (bc=1 pruned); n=5 baskets
    assert set(r) == {("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")}
    ab = r[("a", "b")]
    assert (ab["n_joint"], ab["n_antecedent"], ab["n_consequent"]) == (3, 4, 3)
    assert ab["confidence"] == 0.75
    assert ab["lift"] == pytest.approx(3 * 5 / (4 * 3))  # 1.25
    assert r[("b", "a")]["confidence"] == 1.0
    assert r[("c", "a")]["confidence"] == pytest.approx(round(2 / 3, 4))
    assert r[("a", "c")]["lift"] == pytest.approx(round(2 * 5 / (4 * 3), 4))


def test_min_count_prunes_pairs(baskets):
    assert set(_rules(baskets, min_count=3)) == {("a", "b"), ("b", "a")}


def test_duplicate_items_set_semantics(spark, baskets):
    dup = baskets.union(spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "b long, i string"))
    assert _rules(dup, min_count=2) == _rules(baskets, min_count=2)


def test_max_basket_items_guard(baskets):
    # basket 1 has 3 items; dropping it removes the only a-c co-occurrence
    # beyond b4, so (a,c) falls under min_count=2
    r = _rules(baskets, min_count=2, max_basket_items=2)
    assert set(r) == {("a", "b"), ("b", "a")}
    # supports are recomputed on the surviving baskets: a=3 b=2
    assert r[("a", "b")]["n_joint"] == 2
    assert r[("a", "b")]["n_antecedent"] == 3


def test_nulls_excluded(spark, baskets):
    withnulls = baskets.union(spark.createDataFrame(
        [(None, "a"), (9, None)], "b long, i string"))
    assert _rules(withnulls, min_count=2) == _rules(baskets, min_count=2)
    supp = {r["item"]: r["n_baskets"]
            for r in item_supports(withnulls, "b", "i").collect()}
    assert supp == {"a": 4, "b": 3, "c": 3}


def test_min_count_validation(baskets):
    with pytest.raises(ValueError):
        association_rules(baskets, "b", "i", min_count=0)


def test_prune_engines_value_identical(spark):
    """The opt-in Apriori prune paths (r12 opt: item_prune for rules,
    pair_prune for triples) must be value-identical to the default
    unpruned aggregation — the lemma makes the prunes lossless."""
    from bid_evaluation_ext.operators.basket import frequent_triples

    rows = [(k % 11, f"i{(k * 7 + j) % 13}")
            for k in range(60) for j in range(5)]
    df = spark.createDataFrame(rows, "b long, i string")
    assert (_rules(df, min_count=3)
            == _rules(df, min_count=3, item_prune=True))

    def tri(**kw):
        return {(r["item_a"], r["item_b"], r["item_c"]): r["n_joint"]
                for r in frequent_triples(df, "b", "i", **kw).collect()}

    assert tri(min_count=2) == tri(min_count=2, pair_prune=True)


class TestFrequentTriples:
    def test_hand_computed(self, spark):
        from bid_evaluation_ext.operators.basket import frequent_triples

        rows = [(1, "a"), (1, "b"), (1, "c"), (1, "d"),
                (2, "a"), (2, "b"), (2, "c"),
                (3, "a"), (3, "b"), (3, "d")]
        df = spark.createDataFrame(rows, "b long, i string")
        out = {(r["item_a"], r["item_b"], r["item_c"]): r["n_joint"]
               for r in frequent_triples(df, "b", "i",
                                         min_count=2).collect()}
        # abc in baskets 1,2; abd in 1,3; acd only 1; bcd only 1
        assert out == {("a", "b", "c"): 2, ("a", "b", "d"): 2}

    def test_matches_unpruned_bruteforce(self, spark):
        from itertools import combinations

        from bid_evaluation_ext.operators.basket import frequent_triples

        rng_rows = [(k % 7, f"i{(k * 5 + j) % 9}")
                    for k in range(40) for j in range(4)]
        df = spark.createDataFrame(rng_rows, "b long, i string")
        baskets = {}
        for b, i in rng_rows:
            baskets.setdefault(b, set()).add(i)
        expect = {}
        for b, s in baskets.items():
            for tri in combinations(sorted(s), 3):
                expect[tri] = expect.get(tri, 0) + 1
        expect = {t: n for t, n in expect.items() if n >= 2}
        got = {(r["item_a"], r["item_b"], r["item_c"]): r["n_joint"]
               for r in frequent_triples(df, "b", "i",
                                         min_count=2).collect()}
        assert got == expect
