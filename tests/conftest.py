"""Shared fixtures — the reference's canonical test tables (FIXTURES.md)."""

from __future__ import annotations

import os

import pytest

#: Slow extension-operator tests (``slow_manifest.txt``) are marked
#: ``slow`` and excluded from a plain ``pytest`` run via addopts
#: (pyproject); ``pytest -m slow`` runs them. The manifest lists no
#: scoring-engine test.
_MANIFEST = os.path.join(os.path.dirname(__file__), "slow_manifest.txt")


def _slow_ids():
    ids = set()
    with open(_MANIFEST) as fh:
        for line in fh:
            line = line.strip()
            if line and not line.startswith("#"):
                ids.add(line)
    return ids


def pytest_collection_modifyitems(config, items):
    slow = _slow_ids()
    marker = pytest.mark.slow
    for item in items:
        nid = item.nodeid
        if nid in slow or nid.split("[", 1)[0] in slow:
            item.add_marker(marker)


@pytest.fixture(scope="session")
def spark():
    from bid_evaluation_spark.session import get_spark

    s = get_spark("bid-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture
def bids_3(spark):
    """F-1 canonical 3-vendor table (reference tests/test_criteria.py:11-18)."""
    return spark.createDataFrame(
        [("A", 10, 85, 100000), ("B", 5, 90, 95000), ("C", 8, 75, 110000)],
        "vendor string, experience long, methodology long, bid_amount long",
    )


@pytest.fixture
def bids_5(spark):
    """F-2 staged-pipeline table (reference tests/test_staged.py:17-26)."""
    return spark.createDataFrame(
        [
            ("A", 10, 80, 100000, 30),
            ("B", 5, 60, 95000, 45),
            ("C", 8, 90, 110000, 25),
            ("D", 3, 50, 90000, 60),
            ("E", 7, 70, 105000, 35),
        ],
        "vendor string, experience long, quality_score long, bid_amount long, delivery_days long",
    )


@pytest.fixture
def tie_table(spark):
    """F-3 top_n tie-breaking table (reference tests/test_staged.py:318-322)."""
    return spark.createDataFrame(
        [("A", 90, 100), ("B", 80, 200), ("C", 80, 150), ("D", 70, 120)],
        "vendor string, score long, price long",
    )


def rows_by(df, key="vendor"):
    """Collect to a {key: row-dict} map for order-insensitive assertions."""
    return {r[key]: r.asDict() for r in df.collect()}
