"""Evaluation metrics: hand-computed confusion goldens, sklearn-free AUC
parity vs a dense numpy reference, tie handling, and degenerate classes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bid_evaluation_ext.operators.metrics import (
    binary_classification_metrics, roc_auc,
)


def _np_auc(y, p):
    """Dense tie-corrected Mann-Whitney AUC."""
    order = np.argsort(p, kind="stable")
    ranks = np.empty(len(p), dtype=np.float64)
    sp = p[order]
    i = 0
    while i < len(sp):
        j = i
        while j < len(sp) and sp[j] == sp[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0     # average of ranks i+1..j
        i = j
    npos = y.sum()
    nneg = len(y) - npos
    return (ranks[y == 1].sum() - npos * (npos + 1) / 2.0) / (npos * nneg)


def test_confusion_golden(spark):
    rows = [(1.0, 0.9), (1.0, 0.4), (0.0, 0.8), (0.0, 0.2),
            (None, 0.5), (1.0, None)]
    df = spark.createDataFrame(rows, "_y double, prob double")
    (m,) = binary_classification_metrics(df).collect()
    assert (m["tp"], m["fp"], m["tn"], m["fn"]) == (1, 1, 1, 1)
    assert m["n_ignored"] == 2
    assert m["accuracy"] == pytest.approx(0.5)
    assert m["precision"] == pytest.approx(0.5)
    assert m["recall"] == pytest.approx(0.5)
    assert m["f1"] == pytest.approx(0.5)


def test_confusion_degenerate_no_positives(spark):
    df = spark.createDataFrame([(0.0, 0.1), (0.0, 0.2)], "_y double, prob double")
    (m,) = binary_classification_metrics(df).collect()
    assert m["precision"] is None and m["recall"] is None
    assert m["accuracy"] == pytest.approx(1.0)


def test_auc_perfect_random_and_inverted(spark):
    rows = ([(1.0, 0.8 + i / 100) for i in range(10)]
            + [(0.0, 0.1 + i / 100) for i in range(10)])
    df = spark.createDataFrame(rows, "_y double, prob double")
    (a,) = roc_auc(df).collect()
    assert a["auc"] == pytest.approx(1.0) and a["n_pos"] == 10
    inv = spark.createDataFrame([(y, 1.0 - p) for y, p in rows],
                                "_y double, prob double")
    (b,) = roc_auc(inv).collect()
    assert b["auc"] == pytest.approx(0.0)
    # all scores identical: AUC = 0.5 by the tie convention
    flat = spark.createDataFrame([(float(i % 2), 0.7) for i in range(20)],
                                 "_y double, prob double")
    (c,) = roc_auc(flat).collect()
    assert c["auc"] == pytest.approx(0.5)


def test_auc_matches_numpy_reference_with_ties(spark):
    rng = np.random.default_rng(13)
    # quantized scores force tie groups
    p = np.round(rng.random(400), 2)
    y = (rng.random(400) < 0.3 + 0.4 * p).astype(np.float64)
    if y.sum() in (0, len(y)):
        pytest.skip("degenerate draw")
    df = spark.createDataFrame(
        [(float(t), float(s)) for t, s in zip(y, p)], "_y double, prob double")
    (a,) = roc_auc(df).collect()
    assert a["auc"] == pytest.approx(_np_auc(y, p), abs=1e-12)
    assert a["n_pos"] == int(y.sum())


def test_auc_empty_class_is_null(spark):
    df = spark.createDataFrame([(1.0, 0.5), (1.0, 0.7)], "_y double, prob double")
    (a,) = roc_auc(df).collect()
    assert a["auc"] is None and a["n_neg"] == 0


def test_end_to_end_with_logreg(spark):
    from bid_evaluation_ext.operators.classify import (
        logreg_predict, logreg_train)
    rng = np.random.default_rng(21)
    X = rng.normal(size=(300, 6))
    w = rng.normal(size=6)
    y = (X @ w > 0).astype(np.float64)
    df = spark.createDataFrame(
        [(r.tolist(), float(t)) for r, t in zip(X, y)],
        "embedding array<double>, _y double")
    model = logreg_train(df, dim=6, iters=20, lr=2.0)
    scored = logreg_predict(df, model)
    (a,) = roc_auc(scored).collect()
    (m,) = binary_classification_metrics(scored).collect()
    assert a["auc"] > 0.95, a["auc"]
    assert m["accuracy"] > 0.85


class TestCalibrationTable:
    def test_perfectly_calibrated_probe(self, spark):
        from bid_evaluation_ext.operators.metrics import calibration_table
        import random

        rng = random.Random(13)
        rows = []
        for _ in range(2000):
            p = rng.random()
            rows.append((p, 1.0 if rng.random() < p else 0.0))
        df = spark.createDataFrame(rows, "prob double, _y double")
        got = {r["bin"]: r for r in
               calibration_table(df, "_y", "prob", n_bins=4).collect()}
        assert set(got) == {0, 1, 2, 3}
        base = sum(y for _, y in rows) / len(rows)
        for b, r in got.items():
            # calibrated: observed rate tracks mean predicted prob
            assert r["pos_rate"] == pytest.approx(r["mean_prob"], abs=0.08)
            assert r["lift"] == pytest.approx(r["pos_rate"] / base, abs=1e-9)
        # equal-population bands (up to tie mass; probs here are unique)
        assert max(r["n"] for r in got.values()) \
            - min(r["n"] for r in got.values()) <= 1
        # monotone mean prob across bins
        means = [got[b]["mean_prob"] for b in sorted(got)]
        assert means == sorted(means)

    def test_null_exclusion_and_validation(self, spark):
        from bid_evaluation_ext.operators.metrics import calibration_table

        df = spark.createDataFrame(
            [(0.1, 0.0), (0.9, 1.0), (None, 1.0), (0.5, None)],
            "prob double, _y double")
        rows = calibration_table(df, "_y", "prob", n_bins=2).collect()
        assert sum(r["n"] for r in rows) == 2
        with pytest.raises(ValueError, match="n_bins"):
            calibration_table(df, "_y", "prob", n_bins=1)


class TestRankBiasedOverlap:
    def _ref(self, perm_a, perm_b, p):
        """Direct definition: (1-p) * sum_d p^(d-1) * |A_d ∩ B_d| / d."""
        n = len(perm_a)
        total = 0.0
        for d in range(1, n + 1):
            ov = len(set(perm_a[:d]) & set(perm_b[:d]))
            total += p ** (d - 1) * ov / d
        return (1 - p) * total

    def test_identity_reversal_random(self, spark):
        import random

        from pyspark.sql import Window

        from bid_evaluation_ext.operators.metrics import rank_biased_overlap

        ids = list(range(1, 21))
        rng = random.Random(7)
        shuffled = ids[:]
        rng.shuffle(shuffled)
        cases = [(ids, ids), (ids, list(reversed(ids))), (ids, shuffled)]
        for pa, pb in cases:
            a = spark.createDataFrame(
                [(x, i + 1) for i, x in enumerate(pa)], "id long, rnk int")
            b = spark.createDataFrame(
                [(x, i + 1) for i, x in enumerate(pb)], "id long, rnk int")
            row = rank_biased_overlap(a, b, "id", p=0.8).collect()[0]
            assert row["depth"] == 20
            assert row["rbo"] == pytest.approx(self._ref(pa, pb, 0.8),
                                               abs=1e-9)
        ident = rank_biased_overlap(
            spark.createDataFrame([(x, i + 1) for i, x in enumerate(ids)],
                                  "id long, rnk int"),
            spark.createDataFrame([(x, i + 1) for i, x in enumerate(ids)],
                                  "id long, rnk int"),
            "id", p=0.8).collect()[0]["rbo"]
        assert ident == pytest.approx(self._ref(ids, ids, 0.8), abs=1e-12)

    def test_validation(self, spark):
        from bid_evaluation_ext.operators.metrics import rank_biased_overlap

        a = spark.createDataFrame([(1, 1)], "id long, rnk int")
        b = spark.createDataFrame([(1, 1), (2, 2)], "id long, rnk int")
        with pytest.raises(ValueError, match="differ in size"):
            rank_biased_overlap(a, b, "id")
        with pytest.raises(ValueError, match="p must be"):
            rank_biased_overlap(a, a, "id", p=1.0)
        # equal sizes over DIFFERENT id sets: the inner join would drop
        # rows and silently understate RBO — must raise instead
        c = spark.createDataFrame([(1, 1), (2, 2)], "id long, rnk int")
        d = spark.createDataFrame([(2, 1), (3, 2)], "id long, rnk int")
        with pytest.raises(ValueError, match="different id sets"):
            rank_biased_overlap(c, d, "id")


def test_roc_auc_by_group_matches_global_per_subset(spark):
    """Grouped AUC must equal roc_auc run on each group's subset, incl.
    ties and a single-class group (null auc)."""
    import random

    from bid_evaluation_ext.operators.metrics import roc_auc, roc_auc_by_group

    rng = random.Random(29)
    rows = []
    for g in ("a", "b"):
        for _ in range(120):
            y = rng.random() < 0.4
            # informative but noisy score, quantized to force ties
            p = round(min(1, max(0, (0.6 if y else 0.3) + rng.gauss(0, 0.2))), 1)
            rows.append((g, float(p), 1.0 if y else 0.0))
    rows += [("onlypos", 0.7, 1.0), ("onlypos", 0.2, 1.0)]
    df = spark.createDataFrame(rows, "g string, prob double, _y double")
    got = {r["g"]: r for r in
           roc_auc_by_group(df, "g", "_y", "prob").collect()}
    for g in ("a", "b", "onlypos"):
        ref = roc_auc(df.filter(F.col("g") == g), "_y", "prob").collect()[0]
        assert got[g]["n_pos"] == ref["n_pos"]
        assert got[g]["n_neg"] == ref["n_neg"]
        if ref["auc"] is None:
            assert got[g]["auc"] is None
        else:
            assert got[g]["auc"] == pytest.approx(ref["auc"], abs=1e-12)
    assert got["onlypos"]["auc"] is None


def test_calibration_by_group_matches_global_per_subset(spark):
    """Grouped calibration must equal calibration_table run per subset
    (each group's own thresholds and base rate)."""
    import random

    from bid_evaluation_ext.operators.metrics import (
        calibration_table, calibration_table_by_group)

    rng = random.Random(41)
    rows = []
    for g in ("a", "b"):
        bias = 0.2 if g == "a" else 0.6
        for _ in range(200):
            p = rng.random()
            rows.append((g, p, 1.0 if rng.random() < min(1, p + bias) else 0.0))
    df = spark.createDataFrame(rows, "g string, prob double, _y double")
    got = {}
    for r in calibration_table_by_group(df, "g", "_y", "prob",
                                        n_bins=4).collect():
        got[(r["g"], r["bin"])] = (r["n"], r["mean_prob"], r["pos_rate"],
                                   r["lift"])
    for g in ("a", "b"):
        ref = calibration_table(df.filter(F.col("g") == g), "_y", "prob",
                                n_bins=4).collect()
        for r in ref:
            n, mp, pr, lf = got[(g, r["bin"])]
            assert n == r["n"]
            assert mp == pytest.approx(r["mean_prob"], abs=1e-12)
            assert pr == pytest.approx(r["pos_rate"], abs=1e-12)
            assert lf == pytest.approx(r["lift"], abs=1e-12)


class TestPsiDrift:
    def test_identical_and_shifted(self, spark):
        import math
        import random

        from bid_evaluation_ext.operators.metrics import psi_drift

        rng = random.Random(67)
        vals = [rng.gauss(50, 10) for _ in range(2000)]
        ref = spark.createDataFrame([(v,) for v in vals], "v double")
        # identical windows -> every bin's share matches -> PSI ~ 0
        same = psi_drift(ref, ref, "v", n_bins=5).collect()
        assert sum(r["psi_term"] for r in same) == pytest.approx(0.0,
                                                                 abs=1e-12)
        assert all(r["ref_share"] == pytest.approx(r["cur_share"])
                   for r in same)
        # a strong shift -> substantial PSI, python-reference checked
        cur = spark.createDataFrame([(v + 15.0,) for v in vals], "v double")
        rows = psi_drift(ref, cur, "v", n_bins=5).collect()
        psi = sum(r["psi_term"] for r in rows)
        qs = sorted(vals)
        th = [qs[int(0.2 * i * len(qs))] for i in (1, 2, 3, 4)]

        def share(xs):
            counts = [0] * 5
            for x in xs:
                counts[sum(x > t for t in th)] += 1
            return [max(c / len(xs), 1e-6) for c in counts]

        # thresholds differ slightly from exact interpolation — compare
        # PSI magnitude, not bin-exact values
        rs, cs = share(vals), share([v + 15.0 for v in vals])
        ref_psi = sum((c - r) * math.log(c / r) for r, c in zip(rs, cs))
        assert psi == pytest.approx(ref_psi, rel=0.1)
        assert psi > 0.25    # "shifted" by the standard rule of thumb

    def test_validation(self, spark):
        from bid_evaluation_ext.operators.metrics import psi_drift

        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError, match="n_bins"):
            psi_drift(df, df, "v", n_bins=1)
        empty = spark.createDataFrame([], "v double")
        with pytest.raises(ValueError, match="empty reference"):
            psi_drift(empty, df, "v")


def test_ks_statistic(spark):
    """KS vs a python reference; identical samples -> 0; disjoint -> 1;
    empty side -> null."""
    import random

    from bid_evaluation_ext.operators.metrics import ks_statistic

    rng = random.Random(71)
    xs = [rng.gauss(0, 1) for _ in range(500)]
    ys = [rng.gauss(0.5, 1.2) for _ in range(400)]
    a = spark.createDataFrame([(v,) for v in xs], "v double")
    b = spark.createDataFrame([(v,) for v in ys], "v double")

    def ref_ks(u, w):
        pts = sorted(set(round(x, 6) for x in u + w))
        su, sw = sorted(round(x, 6) for x in u), sorted(round(x, 6) for x in w)
        import bisect
        best = 0.0
        for p in pts:
            fa = bisect.bisect_right(su, p) / len(su)
            fb = bisect.bisect_right(sw, p) / len(sw)
            best = max(best, abs(fa - fb))
        return best

    row = ks_statistic(a, b, "v").collect()[0]
    assert row["n_a"] == 500 and row["n_b"] == 400
    assert row["ks"] == pytest.approx(ref_ks(xs, ys), abs=1e-9)
    assert ks_statistic(a, a, "v").collect()[0]["ks"] == 0.0
    c = spark.createDataFrame([(v + 100.0,) for v in ys], "v double")
    assert ks_statistic(a, c, "v").collect()[0]["ks"] == 1.0
    empty = spark.createDataFrame([], "v double")
    assert ks_statistic(a, empty, "v").collect()[0]["ks"] is None


def test_chi_square_drift(spark):
    """Chi-square homogeneity vs a python reference; identical shares ->
    0; degenerate windows -> nulls."""
    from bid_evaluation_ext.operators.metrics import chi_square_drift

    ref_counts = {"en": 60, "fr": 25, "de": 15}
    cur_counts = {"en": 30, "fr": 45, "zh": 25}
    mk = lambda cnts: spark.createDataFrame(
        [(c,) for c, k in cnts.items() for _ in range(k)], "lang string")
    row = chi_square_drift(mk(ref_counts), mk(cur_counts), "lang").collect()[0]

    cats = sorted(set(ref_counts) | set(cur_counts))
    nr, nu = sum(ref_counts.values()), sum(cur_counts.values())
    chi2 = 0.0
    for c in cats:
        r, u = ref_counts.get(c, 0), cur_counts.get(c, 0)
        pooled = (r + u) / (nr + nu)
        er, eu = pooled * nr, pooled * nu
        chi2 += (r - er) ** 2 / er + (u - eu) ** 2 / eu
    assert row["chi2"] == pytest.approx(chi2, abs=1e-9)
    assert row["dof"] == len(cats) - 1
    assert row["cramers_v"] == pytest.approx((chi2 / (nr + nu)) ** 0.5,
                                             abs=1e-9)
    same = chi_square_drift(mk(ref_counts), mk(ref_counts),
                            "lang").collect()[0]
    assert same["chi2"] == pytest.approx(0.0, abs=1e-9)
    one_cat = spark.createDataFrame([("en",)] * 5, "lang string")
    deg = chi_square_drift(one_cat, one_cat, "lang").collect()[0]
    assert deg["chi2"] is None and deg["dof"] is None


def test_wasserstein_1d(spark):
    """W1 vs a python cdf-gap reference; pure shift of equal-size samples
    -> exactly the shift; identical -> 0."""
    import random

    from bid_evaluation_ext.operators.metrics import wasserstein_1d

    rng = random.Random(83)
    xs = [round(rng.uniform(0, 10), 3) for _ in range(400)]
    ys = [round(rng.uniform(2, 14), 3) for _ in range(300)]
    a = spark.createDataFrame([(v,) for v in xs], "v double")
    b = spark.createDataFrame([(v,) for v in ys], "v double")

    def ref_w1(u, w):
        pts = sorted(set(u) | set(w))
        su, sw = sorted(u), sorted(w)
        import bisect
        total = 0.0
        for p, q in zip(pts, pts[1:]):
            fa = bisect.bisect_right(su, p) / len(su)
            fb = bisect.bisect_right(sw, p) / len(sw)
            total += abs(fa - fb) * (q - p)
        return total

    row = wasserstein_1d(a, b, "v").collect()[0]
    assert row["w1"] == pytest.approx(ref_w1(xs, ys), abs=1e-9)
    assert wasserstein_1d(a, a, "v").collect()[0]["w1"] \
        == pytest.approx(0.0, abs=1e-12)
    shifted = spark.createDataFrame([(v + 5.0,) for v in xs], "v double")
    assert wasserstein_1d(a, shifted, "v").collect()[0]["w1"] \
        == pytest.approx(5.0, abs=1e-9)


def test_js_divergence(spark):
    import math
    import random

    from bid_evaluation_ext.operators.metrics import js_divergence

    rng = random.Random(103)
    xs = [rng.gauss(0, 1) for _ in range(1500)]
    a = spark.createDataFrame([(v,) for v in xs], "v double")
    # identical -> 0; strong shift -> positive, bounded by ln 2
    same = sum(r["jsd_term"] for r in js_divergence(a, a, "v").collect())
    assert same == pytest.approx(0.0, abs=1e-12)
    b = spark.createDataFrame([(v + 3.0,) for v in xs], "v double")
    rows = js_divergence(a, b, "v", n_bins=5).collect()
    jsd = sum(r["jsd_term"] for r in rows)
    assert 0.0 < jsd <= math.log(2) + 1e-9
    # python reference on the emitted shares
    ref = sum(0.5 * r["ref_share"]
              * math.log(r["ref_share"]
                         / ((r["ref_share"] + r["cur_share"]) / 2))
              + 0.5 * r["cur_share"]
              * math.log(r["cur_share"]
                         / ((r["ref_share"] + r["cur_share"]) / 2))
              for r in rows)
    assert jsd == pytest.approx(ref, abs=1e-12)


class TestPsiTimeline:
    def _frames(self, spark):
        import numpy as np

        rng = np.random.RandomState(3)
        ref = spark.createDataFrame(
            [(float(v),) for v in rng.normal(100, 10, 400)], "value double")
        # day 1 matches the reference; day 2 is shifted hard
        day1 = [("2024-01-01 06:00:00", float(v))
                for v in rng.normal(100, 10, 200)]
        day2 = [("2024-01-02 06:00:00", float(v))
                for v in rng.normal(160, 10, 200)]
        cur = spark.createDataFrame(day1 + day2, "ts string, value double") \
            .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "value")
        return ref, cur

    def test_drift_rises_in_the_shifted_bucket(self, spark):
        from bid_evaluation_ext.operators.metrics import (
            psi_drift, psi_timeline)

        ref, cur = self._frames(spark)
        out = {str(r["bucket_start"])[:10]: r
               for r in psi_timeline(ref, cur, "value", n_bins=5).collect()}
        assert out["2024-01-01"]["psi"] < 0.1       # stable day
        assert out["2024-01-02"]["psi"] > 1.0       # fully shifted day
        assert out["2024-01-01"]["n"] == 200

        # single-bucket timeline equals the one-shot psi_drift total
        one_day = cur.filter("ts < timestamp '2024-01-02'")
        total = sum(r["psi_term"] for r in
                    psi_drift(ref, one_day, "value", n_bins=5).collect())
        import pytest as _pt
        assert out["2024-01-01"]["psi"] == _pt.approx(total, rel=1e-9)

    def test_validation(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.operators.metrics import psi_timeline

        ref, cur = self._frames(spark)
        with _pt.raises(ValueError):
            psi_timeline(ref, cur, "value", n_bins=1)
        with _pt.raises(ValueError):
            psi_timeline(ref.filter("value IS NULL"), cur, "value")


class TestStreamingPsiMonitor:
    def test_batch_parity_and_alarm(self, spark, tmp_path):
        """Each micro-batch's PSI equals psi_drift run in batch mode;
        the shifted batch alarms, the in-distribution one doesn't."""
        import time as _time

        import numpy as np

        from bid_evaluation_ext.operators.metrics import psi_drift
        from bid_evaluation_ext.streaming.drift import (
            batch_psi, reference_bins, streaming_psi_monitor)

        rng = np.random.RandomState(7)
        ref = spark.createDataFrame(
            [(float(v),) for v in rng.normal(50, 5, 500)], "value double")
        bins = reference_bins(ref, "value", n_bins=5)

        good = [(float(v),) for v in rng.normal(50, 5, 200)]
        bad = [(float(v),) for v in rng.normal(90, 5, 200)]
        src = str(tmp_path / "psi_stream")
        spark.createDataFrame(good, "value double").coalesce(1) \
            .write.parquet(f"{src}/b=0")
        _time.sleep(1.1)
        spark.createDataFrame(bad, "value double").coalesce(1) \
            .write.parquet(f"{src}/b=1")

        sink = []
        stream = spark.readStream.schema("value double").option(
            "maxFilesPerTrigger", 1).parquet(f"{src}/b=*")
        q = (streaming_psi_monitor(stream, bins, "value", sink,
                                   threshold=0.25)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

        assert len(sink) == 2
        by_alarm = sorted(sink, key=lambda r: r["psi"])
        assert not by_alarm[0]["alarm"] and by_alarm[1]["alarm"]
        assert by_alarm[1]["psi"] > 1.0

        # parity: the kernel equals psi_drift's total on the same frame
        import pytest as _pt
        batch = spark.createDataFrame(bad, "value double")
        _, psi_stream = batch_psi(batch, bins, "value")
        total = sum(r["psi_term"] for r in
                    psi_drift(ref, batch, "value", n_bins=5).collect())
        assert psi_stream == _pt.approx(total, rel=1e-9)

    def test_empty_batch_and_validation(self, spark):
        import pytest as _pt

        from bid_evaluation_ext.streaming.drift import (
            batch_psi, reference_bins, streaming_psi_monitor)

        ref = spark.createDataFrame([(float(i),) for i in range(50)],
                                    "value double")
        bins = reference_bins(ref, "value", n_bins=4)
        n, psi = batch_psi(ref.filter("value < -1"), bins, "value")
        assert n == 0 and psi is None
        with _pt.raises(ValueError):
            reference_bins(ref, "value", n_bins=1)
        with _pt.raises(ValueError):
            streaming_psi_monitor(ref, bins, "value", [], threshold=0)


def test_classification_report_values(spark):
    from bid_evaluation_ext.operators.metrics import classification_report

    # confusion: a->a x3, a->b x1, b->b x2, b->a x1, c never predicted
    rows = ([("a", "a")] * 3 + [("a", "b")] + [("b", "b")] * 2
            + [("b", "a")] + [("c", "a")])
    df = spark.createDataFrame(rows, "y string, p string")
    out = {r["label"]: r for r in
           classification_report(df, "y", "p").collect()}
    a = out["a"]
    assert (a["support"], a["tp"], a["fp"], a["fn"]) == (4, 3, 2, 1)
    assert a["precision"] == 0.6 and a["recall"] == 0.75
    import pytest as _pt
    assert a["f1"] == _pt.approx(2 * 0.6 * 0.75 / 1.35, abs=1e-3)
    c = out["c"]
    assert c["support"] == 1 and c["tp"] == 0 and c["fp"] == 0
    assert c["precision"] is None          # never predicted
    assert c["recall"] == 0.0
    assert c["f1"] is None                 # undefined precision -> null f1


def test_ndcg_mrr_hand_example(spark):
    import math

    from bid_evaluation_ext.operators.metrics import ndcg_mrr

    # q1 run: ranks 1..4 with rels 0,2,1,0 -> first rel at rank 2
    rows = [("q1", 1, 0.0), ("q1", 2, 2.0), ("q1", 3, 1.0), ("q1", 4, 0.0),
            ("q2", 1, 0.0), ("q2", 2, 0.0)]     # no relevance at all
    df = spark.createDataFrame(rows, "q string, rank int, rel double")
    out = {r["query"]: r for r in
           ndcg_mrr(df, "q", "rank", "rel", k=4).collect()}
    q1 = out["q1"]
    dcg = 2 / math.log2(3) + 1 / math.log2(4)
    idcg = 2 / math.log2(2) + 1 / math.log2(3)
    import pytest as _pt
    assert q1["dcg"] == _pt.approx(dcg, abs=1e-3)
    assert q1["idcg"] == _pt.approx(idcg, abs=1e-3)
    assert q1["ndcg"] == _pt.approx(dcg / idcg, abs=1e-3)
    assert q1["rr"] == 0.5 and q1["n_rel"] == 2
    q2 = out["q2"]
    assert q2["ndcg"] is None and q2["rr"] == 0.0
    with _pt.raises(ValueError):
        ndcg_mrr(df, "q", "rank", "rel", k=0)
