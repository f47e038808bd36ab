"""Log-rank test, seasonal anomalies, compaction planner."""

from __future__ import annotations

import math

import pytest

from bid_evaluation_ext.operators.layout import compaction_plan
from bid_evaluation_ext.operators.timeseries import (logrank_test,
                                                       seasonal_anomalies)


def _logrank_reference(rows, ga, gb):
    """Pure-python log-rank over (duration, observed, group) rows."""
    times = sorted({d for d, o, g in rows if o})
    o1 = e1 = v = 0.0
    for t in times:
        n1 = sum(1 for d, o, g in rows if g == ga and d >= t)
        n2 = sum(1 for d, o, g in rows if g == gb and d >= t)
        d1 = sum(1 for d, o, g in rows if g == ga and o and d == t)
        d2 = sum(1 for d, o, g in rows if g == gb and o and d == t)
        n, dd = n1 + n2, d1 + d2
        if dd == 0:
            continue
        o1 += d1
        e1 += dd * n1 / n
        if n > 1:
            v += dd * (n1 / n) * (1 - n1 / n) * (n - dd) / (n - 1)
    z = (o1 - e1) / math.sqrt(v)
    return o1, e1, v, z


def test_logrank_matches_reference(spark):
    rows = [(3.0, True, "a"), (5.0, True, "a"), (7.0, False, "a"),
            (9.0, True, "a"), (11.0, True, "a"),
            (2.0, True, "b"), (4.0, True, "b"), (4.0, True, "b"),
            (6.0, False, "b"), (8.0, True, "b")]
    df = spark.createDataFrame(rows, "dur double, obs boolean, g string")
    r = logrank_test(df, "dur", "obs", "g", "a", "b").collect()[0]
    o1, e1, v, z = _logrank_reference(rows, "a", "b")
    assert r["o1"] == int(o1)
    assert r["e1"] == pytest.approx(e1, abs=1e-3)
    assert r["v"] == pytest.approx(v, abs=1e-3)
    assert r["z"] == pytest.approx(z, abs=1e-3)
    assert r["chi2"] == pytest.approx(z * z, abs=1e-2)


def test_logrank_identical_groups_z_near_zero(spark):
    rows = ([(float(d), True, "a") for d in range(1, 11)]
            + [(float(d), True, "b") for d in range(1, 11)])
    df = spark.createDataFrame(rows, "dur double, obs boolean, g string")
    r = logrank_test(df, "dur", "obs", "g", "a", "b").collect()[0]
    assert abs(r["z"]) < 1e-6


def test_logrank_separated_groups_large_z(spark):
    rows = ([(float(d), True, "a") for d in range(1, 11)]
            + [(float(d + 50), True, "b") for d in range(1, 11)])
    df = spark.createDataFrame(rows, "dur double, obs boolean, g string")
    r = logrank_test(df, "dur", "obs", "g", "a", "b").collect()[0]
    # group a dies much earlier -> observed events in a exceed their
    # at-risk-share expectation while b is still alive -> z = (O1-E1)/sd > 0
    assert r["z"] > 2.5
    # third group ignored entirely
    rows2 = rows + [(1.0, True, "c")] * 50
    df2 = spark.createDataFrame(rows2, "dur double, obs boolean, g string")
    r2 = logrank_test(df2, "dur", "obs", "g", "a", "b").collect()[0]
    assert r2["z"] == r["z"]


def test_seasonal_anomalies_flags_phase_breaker(spark):
    # period-3 sawtooth 0,10,20 repeated; one phase-0 point spikes to 20
    vals = [0.0, 10.0, 20.0] * 8
    vals[12] = 20.0  # phase 0 anomaly (level 20 is normal globally)
    rows = [("k", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = seasonal_anomalies(df, "k", ["t"], "v", period=3,
                             z_thresh=3.5).collect()
    assert any(r["t"] == 12 for r in out)
    flagged = [r for r in out if r["t"] == 12][0]
    assert abs(flagged["robust_z"]) > 3.5


def test_compaction_plan_groups_by_running_total(spark):
    rows = [(f"f{i:02d}", 40) for i in range(10)]  # 400 bytes total
    df = spark.createDataFrame(rows, "path string, size long")
    out = {r["path"]: r for r in
           compaction_plan(df, "path", "size", target_bytes=100).collect()}
    # cum_before = 40*i -> group = floor(40*i/100)
    assert [out[f"f{i:02d}"]["out_group"] for i in range(10)] == \
        [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]


def test_compaction_plan_oversized_file_own_group(spark):
    rows = [("a", 10), ("big", 500), ("z", 10)]
    df = spark.createDataFrame(rows, "path string, size long")
    out = {r["path"]: r for r in
           compaction_plan(df, "path", "size", 100).collect()}
    assert out["a"]["out_group"] == 0
    assert out["big"]["out_group"] == 0  # lands where cum says, never split
    assert out["z"]["out_group"] == 5    # 510 // 100
    assert out["z"]["group_files"] == 1
    with pytest.raises(ValueError):
        compaction_plan(df, "path", "size", 0)


def test_compaction_plan_group_totals(spark):
    rows = [(f"f{i}", 60) for i in range(4)]
    df = spark.createDataFrame(rows, "path string, size long")
    out = compaction_plan(df, "path", "size", 100).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["out_group"], []).append(r)
    for g, rs in groups.items():
        assert rs[0]["group_total"] == sum(r["size_bytes"] for r in rs)
        assert rs[0]["group_files"] == len(rs)
