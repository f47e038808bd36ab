"""SCD2 history (cdc), l-diversity (privacy), SRM check (analytics)."""

from __future__ import annotations

import math

import pytest

from bid_evaluation_ext.operators.analytics import srm_check
from bid_evaluation_ext.operators.cdc import scd2_history
from bid_evaluation_ext.operators.privacy import l_diversity_report


def test_scd2_basic_runs(spark):
    rows = [  # key k1: A@1, A@2 (no change), B@3, B@4, A@5 (back)
        ("k1", 1, 101, "A"), ("k1", 2, 102, "A"), ("k1", 3, 103, "B"),
        ("k1", 4, 104, "B"), ("k1", 5, 105, "A"),
        ("k2", 1, 201, "X"),
    ]
    df = spark.createDataFrame(rows, "k string, ts long, id long, attr string")
    out = scd2_history(df, ["k"], "ts", ["attr"], "id").collect()
    h1 = sorted([r for r in out if r["k"] == "k1"],
                key=lambda r: r["version"])
    assert [(r["attr"], r["valid_from"], r["valid_to"]) for r in h1] == [
        ("A", 1, 3), ("B", 3, 5), ("A", 5, None)]
    assert [r["is_current"] for r in h1] == [False, False, True]
    h2 = [r for r in out if r["k"] == "k2"]
    assert len(h2) == 1 and h2[0]["is_current"] and h2[0]["version"] == 1


def test_scd2_null_transitions(spark):
    rows = [("k", 1, 1, None), ("k", 2, 2, None), ("k", 3, 3, "v"),
            ("k", 4, 4, None)]
    df = spark.createDataFrame(rows, "k string, ts long, id long, a string")
    out = sorted(scd2_history(df, ["k"], "ts", ["a"], "id").collect(),
                 key=lambda r: r["version"])
    # null->null is no change; null->v and v->null are changes
    assert [(r["a"], r["valid_from"]) for r in out] == [
        (None, 1), ("v", 3), (None, 4)]


def test_scd2_same_ts_tiebreak(spark):
    rows = [("k", 1, 2, "B"), ("k", 1, 1, "A")]
    df = spark.createDataFrame(rows, "k string, ts long, id long, a string")
    out = sorted(scd2_history(df, ["k"], "ts", ["a"], "id").collect(),
                 key=lambda r: r["version"])
    assert [r["a"] for r in out] == ["A", "B"]


def test_scd2_multi_attr_and_validation(spark):
    rows = [("k", 1, 1, "A", 10), ("k", 2, 2, "A", 20), ("k", 3, 3, "A", 20)]
    df = spark.createDataFrame(rows,
                               "k string, ts long, id long, a string, b long")
    out = scd2_history(df, ["k"], "ts", ["a", "b"], "id").collect()
    assert len(out) == 2  # b changed at ts=2, nothing at ts=3
    with pytest.raises(ValueError):
        scd2_history(df, [], "ts", ["a"], "id")
    with pytest.raises(ValueError):
        scd2_history(df, ["k"], "ts", [], "id")


def test_l_diversity_flags_low_diversity_classes(spark):
    rows = ([("z1", "s1")] * 4          # 1 distinct sensitive -> violates
            + [("z2", "s1"), ("z2", "s2"), ("z2", "s3")]  # 3 distinct -> ok
            + [("z3", "s1"), ("z3", None)])  # 2 distinct (null counts)
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r["q"]: r for r in
           l_diversity_report(df, ["q"], "s", l=3).collect()}
    assert set(out) == {"z1", "z3"}
    assert out["z1"]["class_size"] == 4 and out["z1"]["n_sensitive"] == 1
    assert out["z1"]["entropy"] == pytest.approx(0.0, abs=1e-9)
    assert out["z3"]["n_sensitive"] == 2
    assert out["z3"]["entropy"] == pytest.approx(math.log(2), abs=1e-3)


def test_l_diversity_validation(spark):
    df = spark.createDataFrame([("a", "b")], "q string, s string")
    with pytest.raises(ValueError):
        l_diversity_report(df, [], "s")
    with pytest.raises(ValueError):
        l_diversity_report(df, ["q"], "s", l=1)


def test_srm_balanced_passes(spark):
    rows = [(i, "A" if i % 2 == 0 else "B") for i in range(1000)]
    df = spark.createDataFrame(rows, "uid long, arm string")
    r = srm_check(df, "arm", {"A": 0.5, "B": 0.5}).collect()[0]
    assert r["n"] == 1000 and r["dof"] == 1
    assert r["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert r["srm"] is False and r["n_unexpected"] == 0


def test_srm_detects_mismatch_and_unexpected_arm(spark):
    rows = ([(i, "A") for i in range(900)]
            + [(i, "B") for i in range(900, 1000)]
            + [(9999, "C")])
    df = spark.createDataFrame(rows, "uid long, arm string")
    r = srm_check(df, "arm", {"A": 0.5, "B": 0.5}).collect()[0]
    # chi2 = (900-500)^2/500 * 2 = 640
    assert r["chi2"] == pytest.approx(640.0, abs=1e-6)
    assert r["srm"] is True and r["z_wh"] > 10
    assert r["n_unexpected"] == 1 and r["n"] == 1000


def test_srm_missing_arm_counts_expected_zero(spark):
    df = spark.createDataFrame([(i, "A") for i in range(100)],
                               "uid long, arm string")
    r = srm_check(df, "arm", {"A": 0.5, "B": 0.5}).collect()[0]
    # B observed 0: chi2 = (100-50)^2/50 + (0-50)^2/50 = 100
    assert r["chi2"] == pytest.approx(100.0, abs=1e-6)
    assert r["srm"] is True


def test_srm_validation(spark):
    df = spark.createDataFrame([(1, "A")], "uid long, arm string")
    with pytest.raises(ValueError):
        srm_check(df, "arm", {})
    with pytest.raises(ValueError):
        srm_check(df, "arm", {"A": 0.7, "B": 0.7})
    with pytest.raises(ValueError):
        srm_check(df, "arm", {"A": 1.5, "B": -0.5})
