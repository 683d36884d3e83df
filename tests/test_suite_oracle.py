"""Every suite query with an oracle must hash-match DuckDB at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01) so regressions
surface in the fast local loop.
"""

from __future__ import annotations

import duckdb
import pytest

from milvus_cdc_spark import suite
from milvus_cdc_spark.catalog import TABLES

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from verify_local import compare_frames  # noqa: E402


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", [n for n, s in suite.QUERIES.items() if s.oracle])
def test_oracle_match(name, spark, sf_dir, oracle_con):
    # Compare THROUGH PANDAS, column-wise astype(str) — the driver's path.
    # fetchall()/collect() of native Python values masked the round-1
    # HUGEINT→float64 dtype drift; this path reproduces it.
    spec = suite.QUERIES[name]
    spdf = spec.fn(spark, sf_dir).toPandas()
    opdf = oracle_con.execute(spec.oracle).df()
    problems = compare_frames(spdf, opdf)
    assert not problems, problems


def test_no_rows_only_queries():
    """Every registry entry carries a DuckDB oracle — the strongest form
    of the driver contract. If a future genuinely-non-SQL-expressible op
    lands without one, this test flips to remind us to add a rows-only
    execution check for it (the parametrized form used to sit here but
    an empty parameter set reports as a misleading pytest 'skip')."""
    assert [n for n, s in suite.QUERIES.items() if not s.oracle] == []
