"""Every oracle-paired query must match DuckDB exactly at sf0.01 —
the local twin of the driver's correctness gate."""

from __future__ import annotations

import pytest

from mapshaper_spark import queries as Q

from .oracle_harness import SF_DIR, compare

ORACLE_NAMES = sorted(Q.ORACLES)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, name):
    df = Q.QUERIES[name](spark, SF_DIR)
    ok, msg = compare(df, Q.ORACLES[name])
    assert ok, f"{name}: {msg}"


def test_all_oracle_queries_have_impls():
    assert set(Q.ORACLES) <= set(Q.QUERIES)


def test_driver_window_pinned():
    """The driver hash-checks only the first 50 registered queries:
    the window holds 50 distinct, registered, oracle-paired names and
    the registry really starts with them."""
    w = Q._DRIVER_WINDOW
    assert len(w) == len(set(w)) == 50
    assert set(w) <= set(Q.QUERIES) & set(Q.ORACLES)
    assert list(Q.QUERIES)[:50] == w
