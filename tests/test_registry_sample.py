"""Every registry query carries a DuckDB oracle twin, and matches it on the
smallest test data set (what ``tools/check_oracle.py`` checks at sf0.01)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_ROOT))
sys.path.insert(0, str(_ROOT / "tools"))

import __spark_entry__ as entry  # noqa: E402
import check_oracle  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_every_query_has_an_oracle():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, "empty registry"
    assert sorted(qs) == sorted(oracles)


@pytest.fixture(scope="module")
def duckdb_views():
    con = check_oracle.duckdb_views(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_matches_its_oracle(spark, duckdb_views, name):
    sdf = entry.queries()[name](spark, SF)
    got = check_oracle.normalize([tuple(r) for r in sdf.collect()], sdf.columns)
    res = duckdb_views.execute(entry.oracle_sql()[name])
    want = check_oracle.normalize(res.fetchall(), [d[0] for d in res.description])
    assert got[0] == want[0]
    assert len(got[1]) == len(want[1])
    assert got[1] == want[1]
