"""Fuzzy edit-distance join: exactness vs dense ground truth (both paths),
null handling, approximate mode, validation."""

import numpy as np
import pytest

from bid_evaluation_ext.operators.fuzzy import fuzzy_join


def _lev(a, b):
    d = np.arange(len(b) + 1)
    for i, ca in enumerate(a, 1):
        prev = d.copy()
        d[0] = i
        for j, cb in enumerate(b, 1):
            d[j] = min(prev[j] + 1, d[j - 1] + 1, prev[j - 1] + (ca != cb))
    return int(d[-1])


def _truth(rows_a, rows_b, d):
    return {(i, j): _lev(a, b)
            for i, a in rows_a for j, b in rows_b if _lev(a, b) <= d}


def test_exact_vs_dense_truth_mixed_lengths(spark):
    # crosses the short/long path boundary (q=2, d=2 -> short_len 6, cap 8)
    names = ["alpha", "alphq", "alpXa", "beta", "bta", "a", "ab", "",
             "gamma-ray", "gamma_ray", "gamma", "x" * 30, "x" * 29 + "y",
             "abcdef", "abcdeg", "abcdefgh"]
    rows = [(i, s) for i, s in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["l_id"], r["r_id"]): r["dist"]
           for r in fuzzy_join(df, df, "name", "id", "id",
                               max_dist=2).collect()}
    assert got == _truth(rows, rows, 2)


def test_exact_random_strings_d1(spark):
    rng = np.random.default_rng(9)
    alph = list("abcd")
    rows = [(i, "".join(rng.choice(alph, size=rng.integers(1, 10))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r["l_id"], r["r_id"]): r["dist"]
           for r in fuzzy_join(df, df, "name", "id", "id",
                               max_dist=1, q=2).collect()}
    assert got == _truth(rows, rows, 1)


def test_cross_table_and_nulls(spark):
    a = spark.createDataFrame([(0, "hello"), (1, None)], "id long, name string")
    b = spark.createDataFrame([(10, "hallo"), (11, None)], "id long, name string")
    got = [(r["l_id"], r["r_id"], r["dist"])
           for r in fuzzy_join(a, b, "name", "id", "id", max_dist=1).collect()]
    assert got == [(0, 10, 1)]          # nulls never match anything


def test_max_gram_df_is_an_explicit_approximation(spark):
    # every name shares the frequent prefix-grams; pruning them can only
    # remove LONG-path candidates, never add false positives
    rows = [(i, f"item-{i:04d}") for i in range(30)]
    df = spark.createDataFrame(rows, "id long, name string")
    exact = {(r["l_id"], r["r_id"]) for r in
             fuzzy_join(df, df, "name", "id", "id", max_dist=2).collect()}
    pruned = {(r["l_id"], r["r_id"]) for r in
              fuzzy_join(df, df, "name", "id", "id", max_dist=2,
                         max_gram_df=5).collect()}
    assert pruned <= exact


def test_kernel_matches_join_engine(spark):
    """r12 opt: the dense batch-DP engine must equal the blocking join
    exactly — same row pairs, same dist — on a messy corpus (mixed
    lengths across the short/long boundary, empty strings, nulls,
    duplicate ids with different strings, string ids, cross-table), and
    the caps must reroute auto to the join."""
    import os

    import numpy as np

    rng = np.random.default_rng(1218)
    alph = list("abcde")
    rows = [(i, "".join(rng.choice(alph, size=rng.integers(0, 12))))
            for i in range(50)]
    rows += [(7, "dupid-different"), (None, "nullid"), (60, None)]
    df = spark.createDataFrame(rows, "id long, name string")

    def got(engine, frame=df, right=None, d=2):
        return sorted(
            (r["l_id"], r["r_id"], r["dist"])
            for r in fuzzy_join(frame, right if right is not None
                                else frame, "name", "id", "id",
                                max_dist=d, engine=engine).collect())

    assert got("kernel") == got("join") and len(got("join")) > 50
    # cross-table, different id domains
    b = spark.createDataFrame(
        [(f"r{i}", s) for i, s in enumerate(
            ["abc", "abd", "", "zzzzzzzzzz"])], "id string, name string")
    ka = sorted((r["l_id"], r["r_id"], r["dist"]) for r in fuzzy_join(
        df, b, "name", "id", "id", max_dist=2, engine="kernel").collect())
    kj = sorted((r["l_id"], r["r_id"], r["dist"]) for r in fuzzy_join(
        df, b, "name", "id", "id", max_dist=2, engine="join").collect())
    assert ka == kj
    # row cap reroutes auto to the join engine (identical rows)
    os.environ["SPARK_GRAFT_FUZZY_LOCAL_MAX_ROWS"] = "3"
    try:
        assert got("auto") == got("join")
    finally:
        del os.environ["SPARK_GRAFT_FUZZY_LOCAL_MAX_ROWS"]
    # cell guard reroutes too
    os.environ["SPARK_GRAFT_FUZZY_LOCAL_MAX_CELLS"] = "1"
    try:
        assert got("auto") == got("join")
    finally:
        del os.environ["SPARK_GRAFT_FUZZY_LOCAL_MAX_CELLS"]
    with pytest.raises(ValueError, match="engine"):
        fuzzy_join(df, df, "name", "id", "id", engine="bogus")
    with pytest.raises(ValueError, match="max_gram_df"):
        fuzzy_join(df, df, "name", "id", "id", max_gram_df=3,
                   engine="kernel")


def test_validation(spark):
    df = spark.createDataFrame([(0, "x")], "id long, name string")
    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_join(df, df, "name", "id", "id", max_dist=0)
    with pytest.raises(ValueError, match="q must"):
        fuzzy_join(df, df, "name", "id", "id", q=0)


class TestFellegiSunter:
    def _pairs(self, spark):
        return spark.createDataFrame(
            [(1, 2, "A", "A", 10.0, 12.0),
             (3, 4, "A", "B", 10.0, 500.0),
             (5, 6, "A", "A", 10.0, 900.0),
             (7, 8, None, "A", None, 5.0)],
            "a_id long, b_id long, a_seg string, b_seg string, "
            "a_bal double, b_bal double")

    def _comparisons(self):
        from pyspark.sql import functions as F
        return {
            "seg": (F.col("a_seg") == F.col("b_seg"), 0.9, 0.1),
            "bal": (F.abs(F.col("a_bal") - F.col("b_bal")) <= 50.0,
                    0.8, 0.05),
        }

    def test_weights_and_classes(self, spark):
        import math

        import pytest as _pt

        from bid_evaluation_ext.operators.fuzzy import fellegi_sunter_score

        out = {r["a_id"]: r for r in fellegi_sunter_score(
            self._pairs(spark), self._comparisons(),
            lower=0.0, upper=4.0).collect()}
        w_seg_a, w_seg_d = math.log(0.9 / 0.1), math.log(0.1 / 0.9)
        w_bal_a, w_bal_d = math.log(0.8 / 0.05), math.log(0.2 / 0.95)
        assert out[1]["fs_score"] == _pt.approx(w_seg_a + w_bal_a)
        assert out[1]["fs_class"] == "link"
        assert out[3]["fs_score"] == _pt.approx(w_seg_d + w_bal_d)
        assert out[3]["fs_class"] == "non_link"
        assert out[5]["fs_score"] == _pt.approx(w_seg_a + w_bal_d)
        # null comparisons count as disagreement, never null out the score
        assert out[7]["fs_score"] == _pt.approx(w_seg_d + w_bal_d)

    def test_validation(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.operators.fuzzy import fellegi_sunter_score

        pairs = self._pairs(spark)
        with _pt.raises(ValueError):
            fellegi_sunter_score(pairs, {})
        bad = dict(self._comparisons())
        from pyspark.sql import functions as F
        bad["x"] = (F.lit(True), 1.5, 0.5)
        with _pt.raises(ValueError):
            fellegi_sunter_score(pairs, bad)
        with _pt.raises(ValueError):
            fellegi_sunter_score(pairs, self._comparisons(),
                                 lower=5.0, upper=1.0)


class TestFellegiSunterEM:
    def test_em_separates_planted_matches(self, spark):
        """Planted 30%-match population: matched pairs agree on both
        fields w.p. 0.95, non-matches w.p. 0.1 — EM recovers m >> u and
        p near the plant rate without labels."""
        import numpy as np

        from bid_evaluation_ext.operators.fuzzy import (
            fellegi_sunter_em, fellegi_sunter_score)

        rng = np.random.RandomState(8)
        rows = []
        for i in range(2000):
            is_match = i < 600
            pa = 0.95 if is_match else 0.1
            rows.append((i, bool(rng.rand() < pa), bool(rng.rand() < pa)))
        df = spark.createDataFrame(rows, "pid long, f1 boolean, f2 boolean")
        from pyspark.sql import functions as F
        fit = {r["field"]: r for r in fellegi_sunter_em(
            df, {"f1": F.col("f1"), "f2": F.col("f2")},
            rounds=25).collect()}
        for f in ("f1", "f2"):
            assert fit[f]["m"] > 0.8
            assert fit[f]["u"] < 0.25
        assert 0.2 < fit["f1"]["p"] < 0.4
        assert fit["f1"]["n_pairs"] == 2000

    def test_python_replay_one_round(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.operators.fuzzy import fellegi_sunter_em
        from pyspark.sql import functions as F

        rows = [(1, True, True), (2, True, False), (3, False, False),
                (4, None, True)]
        df = spark.createDataFrame(rows, "pid long, f1 boolean, f2 boolean")
        got = {r["field"]: r for r in fellegi_sunter_em(
            df, {"f1": F.col("f1"), "f2": F.col("f2")},
            init_m=0.8, init_u=0.1, init_p=0.3, rounds=1).collect()}

        flags = [(1.0, 1.0), (1.0, 0.0), (0.0, 0.0), (0.0, 1.0)]
        gs = []
        for a0, a1 in flags:
            wm = 0.3 * (a0 * 0.8 + (1.0 - a0) * (1.0 - 0.8)) \
                * (a1 * 0.8 + (1.0 - a1) * (1.0 - 0.8))
            wn = (1.0 - 0.3) * (a0 * 0.1 + (1.0 - a0) * (1.0 - 0.1)) \
                * (a1 * 0.1 + (1.0 - a1) * (1.0 - 0.1))
            gs.append(wm / (wm + wn))
        sg = sum(gs)
        m0 = sum(g * a for g, (a, _) in zip(gs, flags)) / sg
        u0 = sum((1 - g) * a for g, (a, _) in zip(gs, flags)) / (4 - sg)
        assert got["f1"]["m"] == _pt.approx(m0, rel=1e-12)
        assert got["f1"]["u"] == _pt.approx(u0, rel=1e-12)
        assert got["f1"]["p"] == _pt.approx(sg / 4, rel=1e-12)

    def test_validation(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.operators.fuzzy import fellegi_sunter_em
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1, True)], "pid long, f1 boolean")
        with _pt.raises(ValueError):
            fellegi_sunter_em(df, {}, rounds=1)
        with _pt.raises(ValueError):
            fellegi_sunter_em(df, {"f1": F.col("f1")}, rounds=0)
        with _pt.raises(ValueError):
            fellegi_sunter_em(df, {"f1": F.col("f1")}, init_p=1.5)


def test_em_degenerate_perfect_separation(spark):
    """Regression (r5 fix): a perfectly-separating field drives every
    posterior to 1 (Σg == n), so the u-step denominator Σ(1−g) hits 0 —
    previously ZeroDivisionError. Several rounds must complete with m/u
    clamped into [1e-6, 1−1e-6]."""
    from pyspark.sql import functions as F

    from bid_evaluation_ext.operators.fuzzy import fellegi_sunter_em

    df = spark.createDataFrame([(1, 1)] * 12, "f1 int, f2 int")
    fit = {r["field"]: r for r in fellegi_sunter_em(
        df, {"f1": F.col("f1") == F.col("f2")},
        init_m=0.9, init_u=0.05, init_p=0.5, rounds=6).collect()}
    r = fit["f1"]
    assert 1e-6 <= r["m"] <= 1 - 1e-6
    assert 1e-6 <= r["u"] <= 1 - 1e-6
    assert r["rounds"] == 6 and r["n_pairs"] == 12

    # mirror case: NO pair ever agrees -> Σg -> 0, m-step denominator 0
    df2 = spark.createDataFrame([(1, 2)] * 12, "f1 int, f2 int")
    fit2 = {r["field"]: r for r in fellegi_sunter_em(
        df2, {"f1": F.col("f1") == F.col("f2")}, rounds=6).collect()}
    assert 1e-6 <= fit2["f1"]["m"] <= 1 - 1e-6
    assert 1e-6 <= fit2["f1"]["u"] <= 1 - 1e-6
