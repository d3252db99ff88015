"""Every declared query must hash-match its DuckDB oracle (driver t2 twin).

Runs at sf0.001 for speed; the driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE
from tests.parity import compare_query, duckdb_conn

SF = "/root/testdata/sf0.001"

_QUERIES = sorted(entrymod.queries())


@pytest.fixture(scope="module")
def duck():
    """One DuckDB connection over SF for the whole sweep."""
    with duckdb_conn(SF) as con:
        yield con


@pytest.fixture(scope="module")
def duck01():
    """One DuckDB connection over SF_ORACLE for the whole sweep."""
    with duckdb_conn(SF_ORACLE) as con:
        yield con


@pytest.mark.slow
@pytest.mark.parametrize("name", _QUERIES)
def test_oracle_parity(spark, duck, name):
    # slow tier (r14): the 135-query sweep alone exceeds the driver
    # verify window, and the driver certifies oracle parity itself
    # (t2) every round; `python tests/parity.py` stays the manual form
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    problems = compare_query(spark, name, fn, sql, SF, duck)
    assert not problems, "\n".join(problems)


@pytest.mark.slow
@pytest.mark.parametrize("name", _QUERIES)
def test_oracle_parity_sf01(spark, duck01, name):
    """DRIVER-SCALE parity: same comparison at sf0.01, the scale the
    external driver certifies at. The driver's 50-entry window only
    covers part of the catalog each round; this sweep is the continuous
    check that rotated-out queries still hash-match at the scale where
    failures like the r4 quantize_embeddings class manifest (the
    sf0.001 sweep above masked exactly that one)."""
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    problems = compare_query(spark, name, fn, sql, SF_ORACLE, duck01)
    assert not problems, "\n".join(problems)
