"""``tools/ab.py``'s paired comparison and no-regression verdict, on fixed
numbers (no benchmark run)."""

import pytest

from tools.ab import compare

BASE = [100.0, 102.0, 98.0, 101.0, 99.0, 103.0, 97.0, 100.0, 101.0, 99.0]


def test_within_bound_and_ci():
    change = [90.0, 91.0, 89.0, 92.0, 88.0, 90.0, 91.0, 90.0, 89.0, 92.0]
    out = compare(BASE, change, lower=True, bound=0.25)
    assert out["base"]["median"] == 100.0 and out["base"]["iqr"] == 2.0
    assert out["ratio_median"] == pytest.approx(0.9)
    lo, hi = out["ratio_ci95"]
    assert lo <= out["ratio_median"] <= hi < 1.0
    assert out["change_better"] == 10 and out["gap_exceeds_base_iqr"]
    assert out["verdict"] == "within_bound"
    # seeded: the same numbers give the same interval
    assert compare(BASE, change, lower=True, bound=0.25)["ratio_ci95"] == [lo, hi]


def test_worse_beyond_bound():
    change = [x * 1.3 for x in BASE]
    out = compare(BASE, change, lower=True, bound=0.25)
    assert out["ratio_median"] == pytest.approx(1.3)
    assert out["change_better"] == 0
    assert out["verdict"] == "worse"
    # a 20% loss is within a 0.25 bound
    assert compare(BASE, [x * 1.2 for x in BASE], True, 0.25)["verdict"] == "within_bound"


def test_unresolved_when_base_spread_exceeds_bound():
    noisy = [60.0, 140.0, 70.0, 130.0, 100.0, 90.0, 120.0, 80.0]  # IQR / median 0.45
    change = [100.0, 105.0, 95.0, 110.0, 90.0, 100.0, 102.0, 98.0]
    assert compare(noisy, change, lower=True, bound=0.25)["verdict"] == "unresolved"
    # ... unless every change run beats every base run
    fast = [50.0, 52.0, 51.0, 49.0, 50.0, 53.0, 48.0, 50.0]
    assert compare(noisy, fast, lower=True, bound=0.25)["verdict"] == "within_bound"


def test_higher_is_better_and_unbounded_metrics():
    out = compare(BASE, [x * 0.7 for x in BASE], lower=False, bound=0.25)
    assert out["change_better"] == 0 and out["verdict"] == "worse"
    out = compare(BASE, [x * 1.1 for x in BASE], lower=False, bound=0.25)
    assert out["change_better"] == 10 and out["verdict"] == "within_bound"
    # a per-layer metric has no bound, so no verdict
    assert "verdict" not in compare(BASE, BASE, lower=True)
