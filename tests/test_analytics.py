"""Decision-analytics operators: Pareto frontier, Gini, diversity, and the
PCA covariance oracle surface — each checked against a brute-force or numpy
reference on constructed data."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.analytics import (
    category_diversity, gini_by_group, pareto_frontier_2d)


def _brute_frontier(points):
    """O(n²) dominance reference: (minimize x, maximize y)."""
    out = []
    for i, (x, y) in enumerate(points):
        dominated = any(
            (qx <= x and qy >= y and (qx < x or qy > y))
            for j, (qx, qy) in enumerate(points) if j != i)
        if not dominated:
            out.append(i)
    return set(out)


class TestParetoFrontier:
    def test_crafted_cases(self, spark):
        # duplicates of a frontier point both survive; equal-price bigger-y
        # wins; equal-y cheaper-x wins; strictly interior point dies
        pts = [
            (1.0, 5),   # frontier
            (1.0, 5),   # duplicate of a frontier point — survives
            (1.0, 3),   # same price, smaller y — dominated
            (2.0, 5),   # same y, more expensive — dominated
            (2.0, 7),   # frontier
            (3.0, 7),   # dominated by (2, 7)
            (3.0, 9),   # frontier
            (0.5, 1),   # frontier (cheapest)
            (4.0, 2),   # interior — dominated
        ]
        df = spark.createDataFrame(
            [(i, x, y) for i, (x, y) in enumerate(pts)],
            "id long, x double, y long")
        got = {r["id"] for r in pareto_frontier_2d(df, "x", "y").collect()}
        assert got == _brute_frontier(pts)

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame(
            [(0, 1.0, 5), (1, None, 99), (2, 0.5, None), (3, 2.0, 6)],
            "id long, x double, y long")
        got = {r["id"] for r in pareto_frontier_2d(df, "x", "y").collect()}
        # null rows are incomparable and excluded; (0) and (3) both survive
        assert got == {0, 3}

    @pytest.mark.parametrize("buckets", [1, 3, 64])
    def test_random_vs_brute_force(self, spark, buckets):
        rng = random.Random(7)
        # heavy duplication in both coordinates to exercise tie handling
        pts = [(float(rng.randint(0, 20)), rng.randint(0, 20))
               for _ in range(300)]
        df = spark.createDataFrame(
            [(i, x, y) for i, (x, y) in enumerate(pts)],
            "id long, x double, y long")
        got = {r["id"]
               for r in pareto_frontier_2d(df, "x", "y", buckets=buckets)
               .collect()}
        assert got == _brute_frontier(pts)

    def test_constant_key_degrades_to_single_bucket(self, spark):
        df = spark.createDataFrame(
            [(0, 1.0, 5), (1, 1.0, 9), (2, 1.0, 9)],
            "id long, x double, y long")
        got = {r["id"] for r in pareto_frontier_2d(df, "x", "y").collect()}
        assert got == {1, 2}

    def test_kernel_matches_buckets_engine(self, spark):
        # Messy corpus: duplicate keys, nulls (excluded), NaN (Spark ranks
        # it above every value, including +inf), +/-inf, tie values. Both
        # engines must agree row-for-row.
        rng = random.Random(12)
        special = [float("nan"), float("inf"), float("-inf")]
        rows = []
        for i in range(400):
            x = rng.choice([float(rng.randint(0, 15)), None]
                           + (special if i % 5 == 0 else []))
            y = rng.choice([float(rng.randint(0, 15)), None]
                           + (special if i % 7 == 0 else []))
            rows.append((i, x, y))
        df = spark.createDataFrame(rows, "id long, x double, y double")
        kern = {r["id"] for r in
                pareto_frontier_2d(df, "x", "y", engine="kernel").collect()}
        buck = {r["id"] for r in
                pareto_frontier_2d(df, "x", "y", buckets=5,
                                   engine="buckets").collect()}
        assert kern == buck

    def test_auto_respects_key_cap(self, spark, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_PARETO_LOCAL_MAX_KEYS", "2")
        pts = [(0, 1.0, 5), (1, 2.0, 7), (2, 3.0, 9), (3, 3.0, 1)]
        df = spark.createDataFrame(pts, "id long, x double, y long")
        routed = pareto_frontier_2d(df, "x", "y", buckets=3)
        # 3 distinct keys > cap 2: auto falls through to the bucketed
        # window engine (no Arrow kernel in the plan), same answer.
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan
        assert {r["id"] for r in routed.collect()} == {0, 1, 2}
        with pytest.raises(ValueError):
            pareto_frontier_2d(df, "x", "y", engine="nope")


def _gini_ref(values):
    xs = sorted(values)
    n = len(xs)
    tot = sum(xs)
    if tot <= 0:
        return None
    return 2.0 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * tot) \
        - (n + 1.0) / n


class TestGini:
    def test_known_shapes(self, spark):
        rows = ([("eq", 5.0)] * 4                       # all equal → 0
                + [("hot", 0.0)] * 9 + [("hot", 10.0)]  # one-hot → (n-1)/n
                + [("zero", 0.0)] * 3)                  # zero mass → null
        df = spark.createDataFrame(rows, "g string, v double")
        got = {r["g"]: r for r in gini_by_group(df, "g", "v").collect()}
        assert got["eq"]["gini"] == pytest.approx(0.0, abs=1e-12)
        assert got["hot"]["gini"] == pytest.approx(0.9, abs=1e-12)
        assert got["zero"]["gini"] is None
        assert got["eq"]["n"] == 4 and got["zero"]["n"] == 3

    def test_random_vs_reference(self, spark):
        rng = random.Random(11)
        rows = [(f"g{i % 3}", float(rng.randint(0, 100))) for i in range(200)]
        df = spark.createDataFrame(rows, "g string, v double")
        got = {r["g"]: r["gini"] for r in gini_by_group(df, "g", "v").collect()}
        for g in ("g0", "g1", "g2"):
            ref = _gini_ref([v for k, v in rows if k == g])
            assert got[g] == pytest.approx(ref, abs=1e-9)

    def test_nulls_excluded(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), ("a", 3.0)], "g string, v double")
        row = gini_by_group(df, "g", "v").collect()[0]
        assert row["n"] == 2
        assert row["gini"] == pytest.approx(_gini_ref([1.0, 3.0]), abs=1e-12)


class TestCategoryDiversity:
    def test_uniform_and_degenerate(self, spark):
        rows = ([("u", c) for c in "abcd"] * 3      # uniform over 4 cats
                + [("one", "x")] * 5)               # single category
        df = spark.createDataFrame(rows, "g string, c string")
        got = {r["g"]: r for r in category_diversity(df, "g", "c").collect()}
        u = got["u"]
        assert u["n"] == 12 and u["n_categories"] == 4
        assert u["entropy"] == pytest.approx(math.log(4), abs=1e-12)
        assert u["entropy_norm"] == pytest.approx(1.0, abs=1e-12)
        assert u["hhi"] == pytest.approx(0.25, abs=1e-12)
        one = got["one"]
        assert one["entropy"] == pytest.approx(0.0, abs=1e-12)
        assert one["entropy_norm"] is None
        assert one["hhi"] == pytest.approx(1.0, abs=1e-12)

    def test_skewed_vs_reference(self, spark):
        counts = {"a": 7, "b": 2, "c": 1}
        rows = [("g", c) for c, k in counts.items() for _ in range(k)]
        df = spark.createDataFrame(rows, "g string, c string")
        row = category_diversity(df, "g", "c").collect()[0]
        t = sum(counts.values())
        ps = [k / t for k in counts.values()]
        h = -sum(p * math.log(p) for p in ps)
        assert row["entropy"] == pytest.approx(h, abs=1e-12)
        assert row["entropy_norm"] == pytest.approx(h / math.log(3), abs=1e-12)
        assert row["hhi"] == pytest.approx(sum(p * p for p in ps), abs=1e-12)


class TestNormalizeScores:
    def test_minmax_zscore_percent_rank(self, spark):
        from bid_evaluation_ext.operators.analytics import normalize_scores

        df = spark.createDataFrame(
            [("g", 0, 10.0), ("g", 1, 20.0), ("g", 2, 30.0),
             ("h", 3, 5.0), ("h", 4, 5.0)],   # constant group
            "grp string, id long, v double")
        mm = {r["id"]: r["n"] for r in normalize_scores(
            df, "v", "grp", "minmax", out_col="n").collect()}
        assert mm[0] == 0.0 and mm[1] == 0.5 and mm[2] == 1.0
        assert mm[3] is None and mm[4] is None   # constant group → null
        z = {r["id"]: r["n"] for r in normalize_scores(
            df, "v", "grp", "zscore", out_col="n").collect()}
        assert z[1] == pytest.approx(0.0, abs=1e-12)
        assert z[2] == pytest.approx(1.0, abs=1e-12)   # (30-20)/10
        assert z[3] is None                            # sd == 0 → null
        pr = {r["id"]: r["n"] for r in normalize_scores(
            df, "v", "grp", "percent_rank", out_col="n").collect()}
        assert pr[0] == 0.0 and pr[1] == 0.5 and pr[2] == 1.0
        assert pr[3] == 0.0 and pr[4] == 0.0           # ties share rank 0

    def test_global_and_bad_method(self, spark):
        from bid_evaluation_ext.operators.analytics import normalize_scores

        df = spark.createDataFrame([(0, 1.0), (1, 3.0)], "id long, v double")
        got = {r["id"]: r["v_norm"]
               for r in normalize_scores(df, "v").collect()}
        assert got == {0: 0.0, 1: 1.0}
        with pytest.raises(ValueError, match="unknown method"):
            normalize_scores(df, "v", method="nope")


class TestPcaCovariance:
    def test_matches_numpy_cov(self, spark):
        from bid_evaluation_ext.operators.pca import pca_covariance

        rng = np.random.default_rng(3)
        X = rng.normal(size=(40, 6)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(X)],
            "id long, embedding array<float>")
        got = pca_covariance(df, "embedding").collect()
        C = np.cov(X.astype(np.float64), rowvar=False, ddof=1)
        assert len(got) == 36
        for r in got:
            assert r["cov"] == pytest.approx(C[r["i"], r["j"]], abs=1e-10)

    def test_null_vectors_skipped_and_min_rows(self, spark):
        from bid_evaluation_ext.operators.pca import pca_covariance

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, None), (2, [3.0, 5.0])],
            "id long, embedding array<float>")
        got = {(r["i"], r["j"]): r["cov"]
               for r in pca_covariance(df, "embedding").collect()}
        C = np.cov(np.array([[1.0, 2.0], [3.0, 5.0]]), rowvar=False, ddof=1)
        for (i, j), v in got.items():
            assert v == pytest.approx(C[i, j], abs=1e-12)
        one = spark.createDataFrame([(0, [1.0, 2.0])],
                                    "id long, embedding array<float>")
        with pytest.raises(ValueError, match="at least 2"):
            pca_covariance(one, "embedding")


class TestGroupedLinearFit:
    def test_exact_line_and_noise(self, spark):
        from bid_evaluation_ext.operators.analytics import grouped_linear_fit

        rng = random.Random(5)
        rows = []
        for i in range(50):                       # exact: y = 3x - 7
            rows.append(("exact", float(i), 3.0 * i - 7.0))
        pts = [(float(i), float(i) + rng.uniform(-1, 1)) for i in range(60)]
        rows += [("noisy", x, y) for x, y in pts]
        rows += [("flat", float(i), 5.0) for i in range(10)]   # vy = 0
        rows += [("const_x", 2.0, float(i)) for i in range(5)]  # vx = 0
        rows += [("single", 1.0, 1.0)]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        got = {r["g"]: r for r in
               grouped_linear_fit(df, "g", "x", "y").collect()}
        assert got["exact"]["slope"] == pytest.approx(3.0, abs=1e-9)
        assert got["exact"]["intercept"] == pytest.approx(-7.0, abs=1e-9)
        assert got["exact"]["r2"] == pytest.approx(1.0, abs=1e-9)
        # numpy reference for the noisy group
        xs = np.array([x for x, _ in pts]); ys = np.array([y for _, y in pts])
        m, b = np.polyfit(xs, ys, 1)
        r = np.corrcoef(xs, ys)[0, 1] ** 2
        assert got["noisy"]["slope"] == pytest.approx(m, abs=1e-9)
        assert got["noisy"]["intercept"] == pytest.approx(b, abs=1e-9)
        assert got["noisy"]["r2"] == pytest.approx(r, abs=1e-9)
        assert got["flat"]["slope"] == pytest.approx(0.0, abs=1e-12)
        assert got["flat"]["r2"] == 1.0           # horizontal perfect fit
        assert got["const_x"]["slope"] is None
        assert got["single"]["slope"] is None and got["single"]["n"] == 1

    def test_nulls_excluded(self, spark):
        from bid_evaluation_ext.operators.analytics import grouped_linear_fit

        df = spark.createDataFrame(
            [("g", 0.0, 0.0), ("g", 1.0, 2.0), ("g", None, 9.0),
             ("g", 4.0, None)],
            "g string, x double, y double")
        row = grouped_linear_fit(df, "g", "x", "y").collect()[0]
        assert row["n"] == 2 and row["slope"] == pytest.approx(2.0)


class TestWeightedQuantile:
    def test_vs_numpy_reference(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            weighted_quantile_by_group)

        rng = random.Random(19)
        rows = [("g", float(rng.randint(0, 100)), float(rng.randint(1, 9)))
                for _ in range(300)]
        rows += [("z", 5.0, 0.0)]          # zero-total group -> nulls
        df = spark.createDataFrame(rows, "g string, v double, w double")
        got = {r["g"]: r for r in weighted_quantile_by_group(
            df, "g", "v", "w", quantiles=(0.25, 0.5, 0.9)).collect()}

        def ref(pairs, q):
            pairs = sorted(pairs)
            tot = sum(w for _, w in pairs)
            cum = 0.0
            for v, w in pairs:
                cum += w
                if cum >= q * tot:
                    return v
        pairs = [(v, w) for g, v, w in rows if g == "g"]
        for q, col in ((0.25, "wq_0_25"), (0.5, "wq_0_5"), (0.9, "wq_0_9")):
            assert got["g"][col] == ref(pairs, q), q
        assert got["z"]["wq_0_5"] is None

    def test_ties_and_validation(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            weighted_quantile_by_group)

        # heavy tie run at the crossing value
        df = spark.createDataFrame(
            [("g", 1.0, 1.0)] + [("g", 2.0, 1.0)] * 5 + [("g", 9.0, 1.0)],
            "g string, v double, w double")
        row = weighted_quantile_by_group(df, "g", "v", "w").collect()[0]
        assert row["wq_0_5"] == 2.0
        with pytest.raises(ValueError, match="quantiles"):
            weighted_quantile_by_group(df, "g", "v", "w", quantiles=(0.0,))


class TestQuantileMatch:
    def test_self_match_is_identity_and_shift_recovers(self, spark):
        from bid_evaluation_ext.operators.analytics import quantile_match

        rng = random.Random(53)
        vals = sorted(rng.uniform(0, 100) for _ in range(400))
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                   "id long, v double")
        # matching a distribution onto itself is the identity (within
        # segment interpolation error at the landmarks = exact there)
        ident = {r["id"]: r["v_matched"] for r in
                 quantile_match(df, "v", df, "v", n_segments=8).collect()}
        for i, v in enumerate(vals):
            assert ident[i] == pytest.approx(v, abs=1e-9)
        # a constant shift is recovered exactly by the affine segments
        shifted = spark.createDataFrame(
            [(i, v + 1000.0) for i, v in enumerate(vals)],
            "id long, v double")
        back = {r["id"]: r["v_matched"] for r in
                quantile_match(shifted, "v", df, "v",
                               n_segments=8).collect()}
        for i, v in enumerate(vals):
            assert back[i] == pytest.approx(v, abs=1e-6)

    def test_clamp_nulls_and_degenerate(self, spark):
        from bid_evaluation_ext.operators.analytics import quantile_match

        ref = spark.createDataFrame([(float(v),) for v in range(11)],
                                    "r double")
        src = spark.createDataFrame(
            [(0, 5.0), (1, None), (2, -99.0), (3, 99.0)],
            "id long, v double")
        got = {r["id"]: r["v_matched"] for r in
               quantile_match(src, "v", ref, "r", n_segments=4).collect()}
        assert got[1] is None
        assert got[2] == 0.0 and got[3] == 10.0       # clamped to edges
        # all-ties source: every value maps to a reference landmark
        ties = spark.createDataFrame([(i, 7.0) for i in range(5)],
                                     "id long, v double")
        tg = {r["v_matched"] for r in
              quantile_match(ties, "v", ref, "r", n_segments=4).collect()}
        # a constant source collapses every segment; values land in the
        # LAST (closed) segment and map to its reference start = q0.75
        assert tg == {7.5}


def test_quantile_match_by_group_harmonizes_shifted_groups(spark):
    """Two groups drawing the same base distribution with different
    shifts land on the SAME common scale after per-group matching."""
    from bid_evaluation_ext.operators.analytics import (
        quantile_match_by_group)

    rng = random.Random(61)
    base = sorted(rng.uniform(0, 50) for _ in range(300))
    rows = ([("a", i, v) for i, v in enumerate(base)]                 # raw
            + [("b", 1000 + i, v + 500.0) for i, v in enumerate(base)])
    df = spark.createDataFrame(rows, "g string, id long, v double")
    ref = spark.createDataFrame([(v,) for v in base], "r double")
    got = {r["id"]: r["m"] for r in quantile_match_by_group(
        df, "g", "v", ref, "r", n_segments=8, out_col="m").collect()}
    for i, v in enumerate(base):
        # both the raw and the +500-shifted copy recover the base value
        assert got[i] == pytest.approx(v, abs=1e-6), i
        assert got[1000 + i] == pytest.approx(v, abs=1e-6), i


def test_ab_conversion_test(spark):
    from bid_evaluation_ext.operators.analytics import ab_conversion_test

    rows = ([("a", 1)] * 30 + [("a", 0)] * 70       # control 30%
            + [("b", 1)] * 45 + [("b", 0)] * 55)    # treatment 45%
    df = spark.createDataFrame(rows, "variant string, converted int")
    r = ab_conversion_test(df, "variant", "converted").collect()[0]
    assert (r["control"], r["treatment"]) == ("a", "b")
    assert r["rate_c"] == pytest.approx(0.30) and r["rate_t"] == pytest.approx(0.45)
    assert r["lift_abs"] == pytest.approx(0.15)
    assert r["lift_rel"] == pytest.approx(0.5)
    # python reference for pooled z and a Wilson bound
    p = 75 / 200
    se = (p * (1 - p) * (1 / 100 + 1 / 100)) ** 0.5
    assert r["z"] == pytest.approx(0.15 / se, abs=1e-9)
    z = 1.959963984540054
    pc, n = 0.30, 100
    center = (pc + z * z / (2 * n)) / (1 + z * z / n)
    half = z * ((pc * (1 - pc) / n + z * z / (4 * n * n)) ** 0.5) \
        / (1 + z * z / n)
    assert r["ci_c_lo"] == pytest.approx(center - half, abs=1e-9)
    assert r["ci_c_hi"] == pytest.approx(center + half, abs=1e-9)
    # interval sanity: rates inside their own CI, z clearly significant
    assert r["ci_t_lo"] < 0.45 < r["ci_t_hi"]
    assert r["z"] > 1.96
    with pytest.raises(ValueError, match="exactly 2"):
        ab_conversion_test(df.filter(F.col("variant") == "a"),
                           "variant", "converted")


def test_cuped_adjust(spark):
    from bid_evaluation_ext.operators.analytics import cuped_adjust

    rng = random.Random(97)
    rows = []
    for i in range(500):
        x = rng.gauss(10, 3)
        rows.append((i, x, 2.0 * x + rng.gauss(0, 1)))   # y driven by x
    rows.append((999, None, 42.0))                       # null covariate
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r["id"]: r for r in cuped_adjust(df, "y", "x").collect()}
    xs = [x for _, x, _ in rows[:-1]]
    ys = [y for _, _, y in rows[:-1]]
    n = len(xs)
    theta = (n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)) \
        / (n * sum(a * a for a in xs) - sum(xs) ** 2)
    mx = sum(xs) / n
    for i, x, y in rows[:-1]:
        assert out[i]["y_cuped"] == pytest.approx(y - theta * (x - mx),
                                                  abs=1e-9)
    assert out[999]["y_cuped"] == 42.0      # null covariate -> raw metric
    # the point of CUPED: adjusted variance collapses, mean is preserved
    import statistics
    adj = [out[i]["y_cuped"] for i, _, _ in rows[:-1]]
    assert statistics.pvariance(adj) < 0.1 * statistics.pvariance(ys)
    assert statistics.fmean(adj) == pytest.approx(statistics.fmean(ys),
                                                  abs=1e-9)


def test_winsorized_mean_by_group(spark):
    from bid_evaluation_ext.operators.analytics import (
        winsorized_mean_by_group)

    vals = [float(v) for v in range(1, 100)] + [100000.0]   # one whale
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    row = winsorized_mean_by_group(df, "g", "v",
                                   lower=0.0, upper=0.95).collect()[0]
    # 95th exact percentile of 1..99,100000 (interpolated) caps the whale
    qs = sorted(vals)
    import math
    pos = 0.95 * (len(qs) - 1)
    lo_i = math.floor(pos)
    q95 = qs[lo_i] + (pos - lo_i) * (qs[lo_i + 1] - qs[lo_i])
    expect = sum(min(v, q95) for v in vals) / len(vals)
    assert row["mean_winsorized"] == pytest.approx(expect, abs=1e-9)
    assert row["mean_raw"] == pytest.approx(sum(vals) / len(vals))
    assert row["n_clipped"] == sum(1 for v in vals if v > q95)
    assert row["mean_winsorized"] < 0.1 * row["mean_raw"]
    with pytest.raises(ValueError, match="lower < upper"):
        winsorized_mean_by_group(df, "g", "v", lower=0.5, upper=0.5)


def test_welch_t_test(spark):
    import math

    from bid_evaluation_ext.operators.analytics import welch_t_test

    rng = random.Random(101)
    xs = [rng.gauss(10, 2) for _ in range(80)]
    ys = [rng.gauss(11, 4) for _ in range(120)]
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "variant string, m double")
    r = welch_t_test(df, "variant", "m").collect()[0]

    def mv(vals):
        n = len(vals)
        mean = sum(vals) / n
        var = sum((v - mean) ** 2 for v in vals) / (n - 1)
        return n, mean, var

    nc, mc, vc = mv(xs)
    nt, mt, vt = mv(ys)
    a, b = vc / nc, vt / nt
    t_ref = (mt - mc) / math.sqrt(a + b)
    dof_ref = (a + b) ** 2 / (a * a / (nc - 1) + b * b / (nt - 1))
    assert (r["n_c"], r["n_t"]) == (80, 120)
    assert r["mean_c"] == pytest.approx(mc, abs=1e-9)
    assert r["t"] == pytest.approx(t_ref, abs=1e-9)
    assert r["dof"] == pytest.approx(dof_ref, abs=1e-6)
    # constant metric in one arm -> t still defined via the other's var;
    # both arms constant -> null t
    const = spark.createDataFrame([("a", 5.0)] * 3 + [("b", 5.0)] * 3,
                                  "variant string, m double")
    rc = welch_t_test(const, "variant", "m").collect()[0]
    assert rc["t"] is None and rc["diff"] == 0.0


def test_persisted_intermediates_registered_for_release(spark):
    """Operators that persist an intermediate with a lazy second consumer
    (pareto_frontier_2d, concurrency_timeline, key_skew_report) must
    register it with the shared cache registry so release_all() can sweep
    it — otherwise repeated calls leak cached blocks for the session."""
    from bid_evaluation_ext.operators import cache
    from bid_evaluation_ext.operators.analytics import pareto_frontier_2d
    from bid_evaluation_ext.operators.profile import key_skew_report
    from bid_evaluation_ext.operators.timeseries import concurrency_timeline

    cache.release_all()
    assert not cache._ALL_CACHED

    pts = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 7.0), (3.0, 6.0), (4.0, 9.0)], "cost double, q double")
    pareto_frontier_2d(pts, "cost", "q").collect()
    iv = spark.createDataFrame(
        [(0.0, 2.0), (1.0, 3.0), (2.5, 4.0)], "s double, e double")
    concurrency_timeline(iv, "s", "e").collect()
    keys = spark.createDataFrame([(i % 3,) for i in range(30)], "k long")
    key_skew_report(keys, "k").collect()

    assert len(cache._ALL_CACHED) == 3
    deps = list(cache._ALL_CACHED)
    assert all(dep.storageLevel.useMemory or dep.storageLevel.useDisk
               for dep in deps)
    cache.release_all()
    assert not cache._ALL_CACHED
    assert all(not (dep.storageLevel.useMemory or dep.storageLevel.useDisk)
               for dep in deps)


class TestKrippendorffAlpha:
    def test_textbook_example(self, spark):
        """Krippendorff's canonical nominal example (4 raters, 12 units
        with missing data) — published alpha ≈ 0.743 for the reduced
        (m_u >= 2) matrix with values a/b/c/d."""
        import math

        from bid_evaluation_ext.operators.analytics import (
            krippendorff_alpha)

        # units as columns of the standard example (None = missing)
        ratings = {
            1: ["a", None, None, "a"], 2: ["b", "b", None, "b"],
            3: ["c", "c", None, "c"], 4: ["c", "c", None, "c"],
            5: ["b", "b", None, "b"], 6: ["a", "b", "c", "d"],
            7: ["d", "d", None, "d"], 8: ["a", "a", "b", "a"],
            9: ["b", "b", "b", "b"], 10: [None, "e", "e", "e"],
            11: [None, None, "a", "a"], 12: [None, "c", "c", "c"],
        }
        rows = [(u, v) for u, vals in ratings.items() for v in vals]
        df = spark.createDataFrame(rows, "unit_id long, value string")
        got = krippendorff_alpha(df).collect()[0]

        # python replay of the coincidence identities
        kept = {u: [v for v in vs if v is not None]
                for u, vs in ratings.items()}
        kept = {u: vs for u, vs in kept.items() if len(vs) >= 2}
        n = sum(len(vs) for vs in kept.values())
        do = sum((len(vs) * (len(vs) - 1)
                  - sum(vs.count(c) * (vs.count(c) - 1) for c in set(vs)))
                 / (len(vs) - 1) for vs in kept.values())
        nc = {}
        for vs in kept.values():
            for v in vs:
                nc[v] = nc.get(v, 0) + 1
        de = n * n - sum(c * c for c in nc.values())
        want = 1.0 - (n - 1) * do / de
        assert got["alpha"] == pytest.approx(want, rel=1e-12)
        assert 0.7 < got["alpha"] < 0.8
        assert got["n_ratings"] == n
        assert math.isfinite(got["alpha"])

    def test_perfect_agreement_with_variation(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            krippendorff_alpha)

        rows = [(u, v) for u, v in [(1, "x"), (1, "x"), (1, "x"),
                                    (2, "y"), (2, "y")]]
        df = spark.createDataFrame(rows, "unit_id long, value string")
        assert krippendorff_alpha(df).collect()[0]["alpha"] == \
            pytest.approx(1.0)

    def test_degenerate_cases(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            krippendorff_alpha)

        # single-value corpus: De = 0 → alpha null
        one = spark.createDataFrame([(1, "x"), (1, "x"), (2, "x"), (2, "x")],
                                    "unit_id long, value string")
        assert krippendorff_alpha(one).collect()[0]["alpha"] is None
        # all units singleton: no agreement evidence → null
        singles = spark.createDataFrame([(1, "x"), (2, "y")],
                                        "unit_id long, value string")
        r = krippendorff_alpha(singles).collect()[0]
        assert r["alpha"] is None and r["n_units"] == 0


class TestMannWhitneyU:
    def test_python_replay(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.analytics import mann_whitney_u

        rng = np.random.RandomState(5)
        a = rng.randint(0, 20, 40)          # heavy ties
        b = rng.randint(3, 23, 35)
        rows = [("c", float(x)) for x in a] + [("t", float(x)) for x in b]
        df = spark.createDataFrame(rows, "variant string, v double")
        got = mann_whitney_u(df, "variant", "v", "c", "t").collect()[0]

        # direct average-rank replay
        allv = sorted([(x, "c") for x in a] + [(x, "t") for x in b])
        vals = [x for x, _ in allv]
        import collections
        cnt = collections.Counter(vals)
        start, avg_rank = 1, {}
        for v in sorted(cnt):
            t = cnt[v]
            avg_rank[v] = start + (t - 1) / 2.0
            start += t
        rt = sum(avg_rank[x] for x in b)
        nb, na, n = len(b), len(a), len(a) + len(b)
        u = rt - nb * (nb + 1) / 2.0
        ties = sum(t ** 3 - t for t in cnt.values())
        var = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
        z = (u - na * nb / 2.0) / var ** 0.5
        assert got["u"] == pytest.approx(u)
        assert got["z"] == pytest.approx(z, rel=1e-9)
        assert got["n_control"] == na and got["n_treatment"] == nb

    def test_equals_auc_identity(self, spark):
        """U / (n_pos · n_neg) is exactly the tie-corrected AUC with the
        treatment group as the positive class."""
        import numpy as np

        from bid_evaluation_ext.operators.analytics import mann_whitney_u
        from bid_evaluation_ext.operators.metrics import roc_auc

        rng = np.random.RandomState(9)
        rows = [(int(i % 2), float(rng.randint(0, 15))) for i in range(60)]
        df = spark.createDataFrame(rows, "y int, v double")
        u = mann_whitney_u(df, "y", "v", 0, 1).collect()[0]
        auc = roc_auc(df, "y", "v").collect()[0]["auc"]
        assert u["u"] / (u["n_control"] * u["n_treatment"]) == \
            pytest.approx(auc, rel=1e-12)

    def test_degenerate_all_tied(self, spark):
        from bid_evaluation_ext.operators.analytics import mann_whitney_u

        df = spark.createDataFrame([("c", 1.0), ("t", 1.0), ("t", 1.0)],
                                   "variant string, v double")
        got = mann_whitney_u(df, "variant", "v", "c", "t").collect()[0]
        assert got["z"] is None  # zero variance
        assert got["u"] is not None


class TestBHAdjust:
    def test_known_values(self, spark):
        from bid_evaluation_ext.operators.analytics import bh_adjust

        df = spark.createDataFrame(
            [("a", 0.01), ("b", 0.04), ("c", 0.03), ("d", 0.005)],
            "metric string, p_value double")
        rows = {r["metric"]: r for r in bh_adjust(df, q=0.05).collect()}
        # m=4; sorted: d(.005,1) a(.01,2) c(.03,3) b(.04,4)
        # raw: .02 .02 .04 .04 → step-up mins from the tail
        assert rows["d"]["p_adj"] == pytest.approx(0.02)
        assert rows["a"]["p_adj"] == pytest.approx(0.02)
        assert rows["c"]["p_adj"] == pytest.approx(0.04)
        assert rows["b"]["p_adj"] == pytest.approx(0.04)
        assert all(rows[k]["reject"] for k in "dacb")

    def test_monotone_and_capped(self, spark):
        from bid_evaluation_ext.operators.analytics import bh_adjust

        df = spark.createDataFrame(
            [(f"m{i}", p) for i, p in
             enumerate([0.001, 0.2, 0.5, 0.9, 0.95, 0.99])],
            "metric string, p_value double")
        out = sorted(bh_adjust(df).collect(), key=lambda r: r["p_rank"])
        adjs = [r["p_adj"] for r in out]
        assert adjs == sorted(adjs)          # monotone in rank
        assert all(a <= 1.0 for a in adjs)   # capped
        assert out[0]["reject"] and not out[-1]["reject"]

    def test_null_p_raises(self, spark):
        from bid_evaluation_ext.operators.analytics import bh_adjust

        df = spark.createDataFrame([("a", 0.1), ("b", None)],
                                   "metric string, p_value double")
        with pytest.raises(ValueError):
            bh_adjust(df)
        with pytest.raises(ValueError):
            bh_adjust(df.filter("p_value is not null"), q=1.5)


class TestPoissonBootstrap:
    def test_exact_python_replay(self, spark):
        """Replicate weights are md5-deterministic — replay them in
        hashlib and match every replicate mean path (via the CI bounds
        of a tiny B)."""
        import hashlib

        from bid_evaluation_ext.operators.analytics import (
            _POISSON1_CDF, poisson_bootstrap_ci)

        rows = [(i, "g", float(v)) for i, v in
                enumerate([10.0, 20.0, 40.0, 80.0])]
        df = spark.createDataFrame(rows, "doc_id long, grp string, v double")
        got = poisson_bootstrap_ci(df, "grp", "v", n_boot=5,
                                   seed="t").collect()[0]

        def weight(i, b):
            hx = hashlib.md5(f"{i}|{b}|t".encode()).hexdigest()[:15]
            u = (int(hx, 16) + 0.5) / 16 ** 15
            for j, t in enumerate(_POISSON1_CDF):
                if u < t:
                    return j
            return 9

        means = []
        for b in range(5):
            ws = [weight(i, b) for i, _, _ in rows]
            if sum(ws) > 0:
                means.append(sum(w * v for w, (_, _, v) in zip(ws, rows))
                             / sum(ws))
        means.sort()
        nb = len(means)
        assert got["ci_lo"] == pytest.approx(
            means[int(0.025 * (nb - 1))], rel=1e-12)
        assert got["ci_hi"] == pytest.approx(
            means[int(0.975 * (nb - 1))], rel=1e-12)
        assert got["mean"] == pytest.approx(37.5)

    def test_ci_brackets_mean_and_tightens(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.analytics import (
            poisson_bootstrap_ci)

        rng = np.random.RandomState(1)
        rows = ([(i, "small", float(v)) for i, v in
                 enumerate(rng.normal(50, 10, 40))]
                + [(1000 + i, "big", float(v)) for i, v in
                   enumerate(rng.normal(50, 10, 4000))])
        df = spark.createDataFrame(rows, "doc_id long, grp string, v double")
        out = {r["grp"]: r for r in poisson_bootstrap_ci(
            df, "grp", "v", n_boot=40).collect()}
        for r in out.values():
            assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
        width = {g: r["ci_hi"] - r["ci_lo"] for g, r in out.items()}
        assert width["big"] < width["small"]  # 10x n → ~3x tighter

    def test_determinism_and_validation(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            poisson_bootstrap_ci)

        df = spark.createDataFrame([(i, "g", float(i)) for i in range(20)],
                                   "doc_id long, grp string, v double")
        a = poisson_bootstrap_ci(df, "grp", "v", n_boot=10).collect()[0]
        b = poisson_bootstrap_ci(df, "grp", "v", n_boot=10).collect()[0]
        assert (a["ci_lo"], a["ci_hi"]) == (b["ci_lo"], b["ci_hi"])
        with pytest.raises(ValueError):
            poisson_bootstrap_ci(df, "grp", "v", n_boot=1)
        with pytest.raises(ValueError):
            poisson_bootstrap_ci(df, "grp", "v", lo=0.9, hi=0.1)


class TestConformalInterval:
    def _cal(self, spark, residuals):
        rows = [(float(100 + r), 100.0) for r in residuals]
        return spark.createDataFrame(rows, "actual double, pred double") \
            .select(F.col("pred"), F.col("actual"))

    def test_known_quantile_and_coverage_rule(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            conformal_interval)

        # residuals 1..10; alpha=0.2 → k = ceil(11*0.8) = 9 → q = 9
        cal = self._cal(spark, range(1, 11))
        tgt = spark.createDataFrame([(1, 50.0), (2, 60.0)],
                                    "id long, pred double")
        out = {r["id"]: r for r in
               conformal_interval(cal, tgt, alpha=0.2).collect()}
        assert out[1]["conf_lo"] == pytest.approx(41.0)
        assert out[1]["conf_hi"] == pytest.approx(59.0)
        assert out[2]["conf_lo"] == pytest.approx(51.0)

    def test_empirical_coverage(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.analytics import (
            conformal_interval)

        rng = np.random.RandomState(2)
        cal_rows = [(float(p), float(p + e)) for p, e in
                    zip(rng.uniform(0, 100, 500), rng.normal(0, 5, 500))]
        cal = spark.createDataFrame(cal_rows, "pred double, actual double")
        tst = [(i, float(p), float(p + e)) for i, (p, e) in
               enumerate(zip(rng.uniform(0, 100, 500),
                             rng.normal(0, 5, 500)))]
        tgt = spark.createDataFrame(tst, "id long, pred double, y double")
        out = conformal_interval(cal, tgt, alpha=0.1).collect()
        covered = sum(1 for r in out if r["conf_lo"] <= r["y"] <= r["conf_hi"])
        assert covered / len(out) >= 0.85  # ≥ 1−α up to finite-sample noise

    def test_validation(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            conformal_interval)

        cal = self._cal(spark, [1.0])
        tgt = spark.createDataFrame([(1, 5.0)], "id long, pred double")
        with pytest.raises(ValueError):   # k=2 > n=1
            conformal_interval(cal, tgt, alpha=0.1)
        with pytest.raises(ValueError):
            conformal_interval(cal, tgt, alpha=1.5)


class TestConformalByGroup:
    def test_per_group_quantiles_differ(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            conformal_interval_by_group)

        # group a: residuals 1..10, group b: residuals 10..100 (x10)
        rows = ([("a", 100.0, float(100 + r)) for r in range(1, 11)]
                + [("b", 100.0, float(100 + 10 * r)) for r in range(1, 11)])
        cal = spark.createDataFrame(rows, "g string, pred double, "
                                          "actual double")
        tgt = spark.createDataFrame([(1, "a", 50.0), (2, "b", 50.0),
                                     (3, "zz", 50.0)],
                                    "id long, g string, pred double")
        out = {r["id"]: r for r in conformal_interval_by_group(
            cal, tgt, "g", alpha=0.2).collect()}
        # k = ceil(11*0.8) = 9 → q_a = 9, q_b = 90
        assert out[1]["conf_hi"] == pytest.approx(59.0)
        assert out[2]["conf_hi"] == pytest.approx(140.0)
        # unseen group: null bounds, row kept
        assert out[3]["conf_lo"] is None and out[3]["conf_hi"] is None

    def test_unattainable_alpha_group_is_null(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            conformal_interval_by_group)

        cal = spark.createDataFrame([("tiny", 1.0, 2.0)],
                                    "g string, pred double, actual double")
        tgt = spark.createDataFrame([(1, "tiny", 5.0)],
                                    "id long, g string, pred double")
        out = conformal_interval_by_group(cal, tgt, "g",
                                          alpha=0.1).collect()[0]
        assert out["conf_lo"] is None  # k=2 > n_g=1


class TestPostStratifiedMean:
    def test_repairs_mix_drift(self, spark):
        """Two strata with different means; the sample over-represents
        the high stratum — post-stratification recovers the population
        mean, the naive mean doesn't."""
        rows = ([("lo", 10.0)] * 8 + [("hi", 100.0)] * 32)  # drifted 80% hi
        samp = spark.createDataFrame(rows, "grp string, v double")
        shares = spark.createDataFrame([("lo", 0.5), ("hi", 0.5)],
                                       "grp string, share double")
        from bid_evaluation_ext.operators.analytics import (
            post_stratified_mean)

        out = post_stratified_mean(samp, shares, "grp", "v").collect()[0]
        assert out["estimate"] == pytest.approx(55.0)     # 0.5·10 + 0.5·100
        assert out["naive_mean"] == pytest.approx(82.0)   # drifted
        assert out["coverage"] == pytest.approx(1.0)
        assert out["n"] == 40

    def test_missing_stratum_shows_in_coverage(self, spark):
        samp = spark.createDataFrame([("a", 1.0)], "grp string, v double")
        shares = spark.createDataFrame([("a", 0.6), ("b", 0.4)],
                                       "grp string, share double")
        from bid_evaluation_ext.operators.analytics import (
            post_stratified_mean)

        out = post_stratified_mean(samp, shares, "grp", "v").collect()[0]
        assert out["coverage"] == pytest.approx(0.6)  # stratum b unsampled
        assert out["estimate"] == pytest.approx(0.6)  # extrapolation visible


class TestDiffInDiff:
    def test_recovers_planted_effect(self, spark):
        import numpy as np

        from bid_evaluation_ext.operators.analytics import diff_in_diff

        rng = np.random.RandomState(1)
        rows = []
        for g in (0, 1):
            for p in (0, 1):
                base = 50 + 10 * g + 5 * p       # baseline + common trend
                effect = 20 if (g == 1 and p == 1) else 0
                rows += [(g, p, float(base + effect + rng.randn()))
                         for _ in range(300)]
        df = spark.createDataFrame(rows, "grp int, period int, v double")
        out = diff_in_diff(df, "grp", "period", "v",
                           treated=1, post=1).collect()[0]
        assert out["did"] == pytest.approx(20.0, abs=0.5)
        assert out["n_tpost"] == 300

    def test_empty_cell_nulls_estimate(self, spark):
        from bid_evaluation_ext.operators.analytics import diff_in_diff

        df = spark.createDataFrame(
            [(1, 1, 5.0), (1, 0, 4.0), (0, 0, 3.0)],  # no control-post
            "grp int, period int, v double")
        out = diff_in_diff(df, "grp", "period", "v",
                           treated=1, post=1).collect()[0]
        assert out["did"] is None
        assert out["n_cpost"] == 0


class TestMsprt:
    def _ab(self, spark, shift, n=400, seed=2):
        import numpy as np

        rng = np.random.RandomState(seed)
        rows = ([("c", float(v)) for v in rng.normal(10, 3, n)]
                + [("t", float(v)) for v in rng.normal(10 + shift, 3, n)])
        return spark.createDataFrame(rows, "g string, v double")

    def test_null_effect_keeps_high_p(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            msprt_always_valid)

        out = msprt_always_valid(self._ab(spark, 0.0), "g", "v",
                                 "c", "t", tau=1.0).collect()[0]
        assert out["p_always_valid"] > 0.05

    def test_real_effect_drives_p_down_and_monotone_in_n(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            msprt_always_valid)

        small = msprt_always_valid(self._ab(spark, 2.0, n=50), "g", "v",
                                   "c", "t", tau=1.0).collect()[0]
        big = msprt_always_valid(self._ab(spark, 2.0, n=800), "g", "v",
                                 "c", "t", tau=1.0).collect()[0]
        assert big["p_always_valid"] < 1e-6
        assert big["p_always_valid"] < small["p_always_valid"]

    def test_python_replay_and_validation(self, spark):
        import math

        import pytest as _pt

        from bid_evaluation_ext.operators.analytics import (
            msprt_always_valid)

        rows = [("c", 1.0), ("c", 3.0), ("t", 4.0), ("t", 8.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = msprt_always_valid(df, "g", "v", "c", "t",
                                 tau=2.0).collect()[0]
        mt, mc = 6.0, 2.0
        ssq = (4 ** 2 + 8 ** 2 - 2 * 6 ** 2) + (1 + 9 - 2 * 2 ** 2)
        var = ssq / 2.0
        vhat = var * (1 / 2 + 1 / 2)
        t2 = 4.0
        lam = math.sqrt(vhat / (vhat + t2)) * math.exp(
            (mt - mc) ** 2 * t2 / (2 * vhat * (vhat + t2)))
        assert out["delta"] == _pt.approx(4.0)
        assert out["lambda"] == _pt.approx(lam, rel=1e-12)
        assert out["p_always_valid"] == _pt.approx(min(1.0, 1 / lam),
                                                   rel=1e-12)
        with _pt.raises(ValueError):
            msprt_always_valid(df, "g", "v", "c", "t", tau=0)


class TestBootstrapEmptyReplicates:
    def test_all_zero_weight_group_yields_null_ci(self, spark):
        """Regression (r6 fix): a single-row group whose Poisson(1)
        weight draws 0 in EVERY replicate has no replicate means —
        element_at previously hit index 0 and crashed. doc_id=19 with
        seed='bs' and n_boot=5 is such a row (found by md5 replay)."""
        from bid_evaluation_ext.operators.analytics import (
            poisson_bootstrap_ci)

        df = spark.createDataFrame(
            [("dead", 19, 7.0)] + [("live", i, float(i)) for i in range(50)],
            "grp string, doc_id long, v double")
        out = {r["grp"]: r for r in poisson_bootstrap_ci(
            df, "grp", "v", n_boot=5, seed="bs").collect()}
        assert out["dead"]["mean"] == pytest.approx(7.0)
        assert out["dead"]["ci_lo"] is None
        assert out["dead"]["ci_hi"] is None
        assert out["live"]["ci_lo"] is not None      # normal path intact
        assert out["live"]["ci_lo"] <= out["live"]["ci_hi"]


class TestDiffInDiffVariance:
    def test_se_matches_cell_formula(self, spark):
        import math

        from bid_evaluation_ext.operators.analytics import diff_in_diff

        rows = []
        vals = {}
        for g in (0, 1):
            for p in (0, 1):
                cell = [float(10 * g + 5 * p + k) for k in range(6)]
                vals[(g, p)] = cell
                rows += [(g, p, v) for v in cell]
        df = spark.createDataFrame(rows, "grp int, period int, v double")
        out = diff_in_diff(df, "grp", "period", "v",
                           treated=1, post=1).collect()[0]

        def var(xs):
            m = sum(xs) / len(xs)
            return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

        want_se = math.sqrt(sum(var(vals[c]) / len(vals[c])
                                for c in vals))
        assert out["se"] == pytest.approx(want_se)
        assert out["var_tpost"] == pytest.approx(var(vals[(1, 1)]))
        assert out["var_cpre"] == pytest.approx(var(vals[(0, 0)]))

    def test_singleton_cell_nulls_se_not_did(self, spark):
        from bid_evaluation_ext.operators.analytics import diff_in_diff

        rows = [(1, 1, 5.0),               # singleton treated-post
                (1, 0, 4.0), (1, 0, 6.0),
                (0, 1, 3.0), (0, 1, 5.0),
                (0, 0, 2.0), (0, 0, 4.0)]
        df = spark.createDataFrame(rows, "grp int, period int, v double")
        out = diff_in_diff(df, "grp", "period", "v",
                           treated=1, post=1).collect()[0]
        assert out["did"] is not None      # all four cells populated
        assert out["var_tpost"] is None    # n=1 -> var_samp null
        assert out["se"] is None           # null var propagates


class TestUcb1:
    def test_hand_computed(self, spark):
        import math

        from bid_evaluation_ext.operators.analytics import ucb1_scores

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 0.0), ("b", 1.0), ("b", None)],
            "arm string, r double")
        out = {row["arm"]: row.asDict()
               for row in ucb1_scores(df, "arm", "r").collect()}
        # null reward excluded: N = 3, a: n=2 mean .5, b: n=1 mean 1
        assert out["a"]["n_pulls"] == 2 and out["b"]["n_pulls"] == 1
        assert out["a"]["mean_reward"] == 0.5
        exp_a = 0.5 + math.sqrt(2) * math.sqrt(math.log(3) / 2)
        exp_b = 1.0 + math.sqrt(2) * math.sqrt(math.log(3) / 1)
        import pytest as _pt
        assert out["a"]["ucb"] == _pt.approx(exp_a, abs=1e-4)
        assert out["b"]["ucb"] == _pt.approx(exp_b, abs=1e-4)

    def test_less_pulled_arm_gets_exploration_bonus(self, spark):
        from bid_evaluation_ext.operators.analytics import ucb1_scores

        rows = [("hot", 0.5)] * 50 + [("cold", 0.5)] * 2
        df = spark.createDataFrame(rows, "arm string, r double")
        out = {r["arm"]: r["ucb"]
               for r in ucb1_scores(df, "arm", "r").collect()}
        assert out["cold"] > out["hot"]


class TestPoissonRateTest:
    def test_hand_computed(self, spark):
        import math

        from bid_evaluation_ext.operators.analytics import (
            poisson_rate_test)

        rows = [("a",)] * 30 + [("b",)] * 10
        df = spark.createDataFrame(rows, "g string")
        out = poisson_rate_test(df, "g", "a", "b", 100.0, 50.0).collect()[0]
        assert (out["n_a"], out["n_b"]) == (30, 10)
        assert out["rate_a"] == 0.3 and out["rate_b"] == 0.2
        assert out["ratio"] == 1.5
        se = math.sqrt(1 / 30 + 1 / 10)
        assert out["z"] == pytest.approx(math.log(1.5) / se, abs=1e-4)
        assert out["ci_lo"] < 1.5 < out["ci_hi"]

    def test_zero_count_yields_null_inference(self, spark):
        from bid_evaluation_ext.operators.analytics import (
            poisson_rate_test)

        df = spark.createDataFrame([("a",)] * 5, "g string")
        out = poisson_rate_test(df, "g", "a", "b", 10.0, 10.0).collect()[0]
        assert out["n_b"] == 0 and out["ratio"] is None and out["z"] is None
        assert out["rate_a"] == 0.5 and out["rate_b"] == 0.0
        import pytest as _pt
        with _pt.raises(ValueError):
            poisson_rate_test(df, "g", "a", "b", 0.0, 1.0)


def test_wilson_by_group_values(spark):
    from bid_evaluation_ext.operators.analytics import wilson_by_group

    rows = [("a", True)] * 8 + [("a", False)] * 2 + [("b", False)] * 5
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = {r["group"]: r for r in wilson_by_group(df, "g", "s").collect()}
    a = out["a"]
    assert a["n"] == 10 and a["k"] == 8 and a["rate"] == 0.8
    # Wilson 95% for 8/10: approx (0.4902, 0.9433)
    assert a["ci_lo"] == __import__("pytest").approx(0.4902, abs=2e-3)
    assert a["ci_hi"] == __import__("pytest").approx(0.9433, abs=2e-3)
    b = out["b"]
    assert b["k"] == 0 and b["ci_lo"] == 0.0 and 0 < b["ci_hi"] < 0.5
    import pytest as _p
    with _p.raises(ValueError):
        wilson_by_group(df, "g", "s", z=0)
