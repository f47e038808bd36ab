"""Every registry query carries a DuckDB oracle twin."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, "empty registry"
    assert sorted(qs) == sorted(oracles)
