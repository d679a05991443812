"""Every ``__spark_entry__.queries()`` entry equals its DuckDB oracle in
``oracle_sql()`` over the same parquet, compared as sorted row sets
(both sides round derived doubles to 6 decimals)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.test_retired_queries import SF as SF_SMALLEST

# sf0.001 has no window_lag_extreme rows; the next scale factor does
SF = SF_SMALLEST.replace("sf0.001", "sf0.01")


def _sorted(rows):
    # NULL-safe total order: (is_null, value) per column
    return sorted(rows, key=lambda r: tuple((v is None, v) for v in r))


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("events", "lineitem", "supplier"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield c
    c.close()


def test_registry_and_oracles_cover_the_same_queries():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_duckdb_oracle(spark, con, name):
    df = entry_mod.queries()[name](spark, SF)
    got = _sorted(tuple(r) for r in df.collect())
    exp = _sorted(con.execute(entry_mod.oracle_sql()[name]).fetchall())
    assert len(got) == len(exp) > 0, name
    assert got == exp, name
