"""LSH tuning: S-curve math, monotone threshold tracking, weighting."""

from __future__ import annotations

import pytest

from bid_evaluation_ext.operators.lshtune import (
    lsh_error_areas,
    lsh_tune,
    lsh_tuning_table,
)


def test_error_areas_limits():
    # b=1, r=1: P(s)=s → FP = t^2/2, FN = (1-t)^2/2 analytically
    fp, fn = lsh_error_areas(1, 1, 0.5, grid=100000)
    assert abs(fp - 0.125) < 1e-4 and abs(fn - 0.125) < 1e-4
    # huge b: P ~ 1 everywhere above tiny s → FN ~ 0, FP ~ t
    fp, fn = lsh_error_areas(64, 1, 0.5)
    assert fn < 0.01 and fp > 0.4


def test_tuned_threshold_tracks_target():
    for t in (0.2, 0.5, 0.8):
        got = lsh_tune(128, t)
        assert abs(got["threshold_est"] - t) < 0.22
        assert got["bands"] * got["rows"] <= 128
    # higher target → more rows per band (steeper, later curve)
    assert lsh_tune(128, 0.8)["rows"] > lsh_tune(128, 0.2)["rows"]


def test_fn_weighting_pushes_recall():
    # over-weighting FN must not DECREASE the estimated threshold gap
    # toward recall (threshold_est moves down or bands go up)
    base = lsh_tune(64, 0.6)
    heavy = lsh_tune(64, 0.6, fn_weight=5.0)
    assert heavy["threshold_est"] <= base["threshold_est"] + 1e-9
    assert heavy["fn_area"] <= base["fn_area"] + 1e-12


def test_table_and_validation():
    tbl = lsh_tuning_table(64, [0.3, 0.6])
    assert [r["threshold"] for r in tbl] == [0.3, 0.6]
    with pytest.raises(ValueError):
        lsh_tune(0, 0.5)
    with pytest.raises(ValueError):
        lsh_tune(64, 1.5)
