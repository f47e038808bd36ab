"""Supervised feature encoding: target encoding leakage contracts,
hashing-trick md5 replay, histogram stump split finding, and isotonic
(PAV) calibration vs a brute-force minimax reference."""

import hashlib
import random

import pytest

from pyspark.sql import functions as F

from bid_evaluation_ext.operators.encode import (
    _pav, decision_stump, feature_hash, feature_hash_triplets,
    isotonic_apply, isotonic_bins, isotonic_fit, target_encode)


# ---------------------------------------------------------------------------
# target_encode
# ---------------------------------------------------------------------------

@pytest.fixture
def labeled(spark):
    # cat a: labels 1,1,0 ; cat b: labels 0,0 ; singleton c: 1
    rows = [(1, "a", 1, 0), (2, "a", 1, 1), (3, "a", 0, 0),
            (4, "b", 0, 1), (5, "b", 0, 0), (6, "c", 1, 1)]
    return spark.createDataFrame(
        rows, "id long, cat string, y int, fold int")


def test_global_smoothed_mean(labeled):
    out = {r["id"]: r["target_enc"]
           for r in target_encode(labeled, "cat", "y", method="global",
                                  smoothing=2.0).collect()}
    prior = 3 / 6
    assert out[1] == pytest.approx((2 + 2 * prior) / (3 + 2))
    assert out[4] == pytest.approx((0 + 2 * prior) / (2 + 2))
    assert out[6] == pytest.approx((1 + 2 * prior) / (1 + 2))


def test_loo_excludes_own_label(labeled):
    out = {r["id"]: r["target_enc"]
           for r in target_encode(labeled, "cat", "y", method="loo",
                                  smoothing=0.0).collect()}
    # row 1 (y=1) in cat a: peers are y=1,0 -> 0.5; row 3 (y=0): peers 1,1
    assert out[1] == pytest.approx(0.5)
    assert out[3] == pytest.approx(1.0)
    # singleton with no smoothing has no peers -> null
    assert out[6] is None


def test_kfold_uses_other_folds_only(labeled):
    out = {r["id"]: r["target_enc"]
           for r in target_encode(labeled, "cat", "y", method="kfold",
                                  smoothing=0.0, fold_col="fold").collect()}
    # cat a: fold 0 holds ids 1,3 (y=1,0), fold 1 holds id 2 (y=1).
    # id 2 is encoded from fold!=1 stats: (2 - 1) / (3 - 1) = 0.5
    assert out[2] == pytest.approx(0.5)
    # id 1 encoded from fold!=0 stats: only id 2 -> 1.0
    assert out[1] == pytest.approx(1.0)
    # cat c is a single fold -> empty complement -> null at m=0
    assert out[6] is None


def test_kfold_requires_fold_col(labeled):
    with pytest.raises(ValueError, match="fold_col"):
        target_encode(labeled, "cat", "y", method="kfold")


def test_null_category_is_its_own_level(spark):
    rows = [(1, None, 1), (2, None, 0), (3, "a", 1)]
    df = spark.createDataFrame(rows, "id long, cat string, y int")
    out = {r["id"]: r["target_enc"]
           for r in target_encode(df, "cat", "y", method="global",
                                  smoothing=0.0).collect()}
    assert out[1] == pytest.approx(0.5)
    assert out[3] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# feature_hash
# ---------------------------------------------------------------------------

def _py_hash_features(text, n, seed="fh"):
    out = {}
    for tok in text.split():
        h = int(hashlib.md5((tok + seed).encode()).hexdigest()[:15], 16)
        b, s = (h >> 1) % n, 1 if h % 2 == 0 else -1
        out[b] = out.get(b, 0) + s
    return {k: v for k, v in out.items() if v != 0}


def test_feature_hash_matches_md5_replay(spark):
    texts = ["the quick brown fox", "jumps over the lazy dog dog dog",
             "", "one"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: dict(zip(r["indices"], r["values"]))
           for r in feature_hash(df, n_features=8).collect()}
    for i, t in enumerate(texts):
        want = _py_hash_features(t, 8)
        assert got.get(i, {}) == want, (i, t)


def test_triplets_equal_arrays(spark, documents_df=None):
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} common common") for i in range(20)],
        "doc_id long, text string")
    arrays = feature_hash(df, n_features=16)
    flat = arrays.select(
        "doc_id", F.explode(F.arrays_zip("indices", "values")).alias("z")
    ).select("doc_id", F.col("z.indices").alias("index"),
             F.col("z.values").alias("value"))
    trip = feature_hash_triplets(df, n_features=16)
    assert sorted(map(tuple, flat.collect())) == \
        sorted(map(tuple, trip.collect()))


def test_feature_hash_sign_sum_invariant(spark):
    # dropped zero-sum buckets contribute 0, so sum(values) must equal
    # the sum of every token's sign
    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l m n o p")], "doc_id long, text string")
    row = feature_hash(df, n_features=4).head()
    total = sum(row["values"])
    signs = sum(1 if int(hashlib.md5((t + "fh").encode())
                         .hexdigest()[:15], 16) % 2 == 0 else -1
                for t in "a b c d e f g h i j k l m n o p".split())
    assert total == signs


# ---------------------------------------------------------------------------
# decision_stump
# ---------------------------------------------------------------------------

def test_stump_finds_separating_split(spark):
    rows = [(float(i), 0.0) for i in range(50)] + \
           [(float(i) + 100.0, 10.0) for i in range(50)]
    df = spark.createDataFrame(rows, "x double, y double")
    st = decision_stump(df, "x", "y", n_bins=16).head()
    assert 49.0 < st["split_value"] < 100.0
    assert st["left_mean"] == pytest.approx(0.0)
    assert st["right_mean"] == pytest.approx(10.0)
    assert st["left_cnt"] == 50 and st["right_cnt"] == 50
    # perfect split: gain equals total SSE
    ys = [r[1] for r in rows]
    mean = sum(ys) / len(ys)
    assert st["gain"] == pytest.approx(sum((y - mean) ** 2 for y in ys))


def test_stump_constant_feature_empty(spark):
    df = spark.createDataFrame([(1.0, float(i)) for i in range(10)],
                               "x double, y double")
    assert decision_stump(df, "x", "y").count() == 0


def test_stump_gain_nonnegative_random(spark):
    rng = random.Random(7)
    rows = [(rng.uniform(0, 1), rng.uniform(0, 1)) for _ in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    st = decision_stump(df, "x", "y", n_bins=8).head()
    assert st["gain"] >= -1e-9
    assert st["left_cnt"] + st["right_cnt"] == 200


# ---------------------------------------------------------------------------
# gbm stumps
# ---------------------------------------------------------------------------

def _gbm_mod():
    from bid_evaluation_ext.operators.encode import (gbm_predict,
                                                       gbm_stumps)
    return gbm_stumps, gbm_predict


def test_gbm_one_round_perfect_fit_lr1(spark):
    gbm_stumps, gbm_predict = _gbm_mod()
    rows = [(float(i), 0.0) for i in range(50)] + \
           [(100.0 + i, 10.0) for i in range(50)]
    df = spark.createDataFrame(rows, "x double, y double")
    m = gbm_stumps(df, "x", "y", n_rounds=3, n_bins=16, learning_rate=1.0)
    # lr=1 squared loss: round 1 fits exactly, later rounds gain ~0
    scored = gbm_predict(df, m, "x")
    resid = scored.selectExpr("max(abs(y - gbm_pred)) m").head()["m"]
    assert resid == pytest.approx(0.0, abs=1e-9)
    assert m.rounds[0][2] == pytest.approx(-5.0)   # left delta vs base 5.0
    assert m.rounds[0][3] == pytest.approx(5.0)


def test_gbm_round1_equals_stump(spark):
    gbm_stumps, _ = _gbm_mod()
    rng = random.Random(3)
    rows = [(rng.uniform(0, 100), rng.uniform(0, 50)) for _ in range(300)]
    df = spark.createDataFrame(rows, "x double, y double")
    m = gbm_stumps(df, "x", "y", n_rounds=1, n_bins=8)
    st = decision_stump(df, "x", "y", n_bins=8).head()
    sb, sv, ld, rd, gain = m.rounds[0]
    assert sb == st["split_bin"]
    assert gain == pytest.approx(st["gain"])
    # round-1 deltas are leaf means of residuals = leaf mean - base
    assert ld == pytest.approx(st["left_mean"] - m.base)
    assert rd == pytest.approx(st["right_mean"] - m.base)


def test_gbm_training_mse_monotone(spark):
    gbm_stumps, gbm_predict = _gbm_mod()
    rng = random.Random(5)
    rows = [(rng.uniform(0, 100), x * 0.3 + rng.uniform(0, 10))
            for x in (rng.uniform(0, 100) for _ in range(400))]
    df = spark.createDataFrame(rows, "x double, y double")
    prev = None
    for k in (0, 1, 3, 5):
        m = gbm_stumps(df, "x", "y", n_rounds=k, n_bins=8)
        mse = gbm_predict(df, m, "x").selectExpr(
            "avg((y - gbm_pred) * (y - gbm_pred)) m").head()["m"]
        if prev is not None:
            assert mse <= prev + 1e-9
        prev = mse


def test_gbm_constant_feature_no_rounds(spark):
    gbm_stumps, gbm_predict = _gbm_mod()
    df = spark.createDataFrame([(5.0, float(i)) for i in range(20)],
                               "x double, y double")
    m = gbm_stumps(df, "x", "y", n_rounds=3)
    assert m.rounds == []
    pred = gbm_predict(df, m, "x").select("gbm_pred").head()["gbm_pred"]
    assert pred == pytest.approx(9.5)


# ---------------------------------------------------------------------------
# isotonic
# ---------------------------------------------------------------------------

def _minimax(cnt, sy):
    """Brute-force minimax isotonic reference: iso_k = max_{i<=k}
    min_{j>=k} (S_j - S_{i-1}) / (C_j - C_{i-1})."""
    n = len(cnt)
    S = [0.0]
    C = [0.0]
    for c, s in zip(cnt, sy):
        S.append(S[-1] + s)
        C.append(C[-1] + c)
    out = []
    for k in range(n):
        best = -float("inf")
        for i in range(k + 1):
            worst = min((S[j + 1] - S[i]) / (C[j + 1] - C[i])
                        for j in range(k, n))
            best = max(best, worst)
        out.append(best)
    return out


def test_pav_equals_minimax_randomized():
    rng = random.Random(11)
    for _ in range(50):
        n = rng.randint(1, 12)
        cnt = [float(rng.randint(1, 9)) for _ in range(n)]
        sy = [rng.randint(0, int(c)) * 1.0 for c in cnt]
        got = _pav(cnt, sy)
        want = _minimax(cnt, sy)
        assert all(abs(a - b) < 1e-9 for a, b in zip(got, want))
        assert all(got[i] <= got[i + 1] + 1e-12 for i in range(n - 1))


def test_pav_preserves_total_mass():
    cnt = [4.0, 2.0, 6.0, 1.0]
    sy = [4.0, 0.0, 3.0, 1.0]
    iso = _pav(cnt, sy)
    assert sum(c * p for c, p in zip(cnt, iso)) == pytest.approx(sum(sy))


def test_isotonic_bins_monotone_on_real_data(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .withColumn("y", (F.col("o_orderstatus") == "F").cast("int"))
    rows = isotonic_bins(df, "o_totalprice", "y", n_bins=20) \
        .orderBy("bin").collect()
    assert len(rows) >= 2
    assert all(rows[i]["rate_iso"] <= rows[i + 1]["rate_iso"] + 1e-9
               for i in range(len(rows) - 1))
    # mass preservation: sum cnt*iso == sum y (rates rounded to 1e-4)
    total_iso = sum(r["cnt"] * r["rate_iso"] for r in rows)
    total_y = df.agg(F.sum("y")).head()[0]
    assert total_iso == pytest.approx(total_y, rel=1e-3)


def test_isotonic_apply_clamps_and_is_monotone(spark):
    df = spark.createDataFrame(
        [(float(i), 1 if i >= 5 else 0) for i in range(10)] * 4,
        "s double, y int")
    m = isotonic_fit(df, "s", "y", n_bins=10)
    scored = isotonic_apply(
        spark.createDataFrame([(-100.0,), (4.9,), (5.1,), (100.0,)],
                              "s double"), m, "s")
    vals = [r["calibrated"] for r in scored.orderBy("s").collect()]
    assert vals[0] == pytest.approx(min(m.probs))
    assert vals[-1] == pytest.approx(max(m.probs))
    assert all(vals[i] <= vals[i + 1] + 1e-12 for i in range(3))
