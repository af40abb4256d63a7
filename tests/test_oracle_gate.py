"""Tier-1 oracle gate: every registered query (``__spark_entry__.
queries()``) at sf0.001 against its DuckDB twin (``oracle_sql()``),
compared exactly as ``tools/check_oracle.py`` compares them: the same
sorted column names, the same row count and the same order-insensitive
normalized values."""

import importlib.util
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as E

from .conftest import SF_SMALL

_spec = importlib.util.spec_from_file_location(
    "check_oracle", Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py")
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)

QUERIES, ORACLES = E.queries(), E.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    yield con
    con.close()


def test_every_query_has_an_oracle():
    assert QUERIES and set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMALL)
    srows, scols = [tuple(r) for r in sdf.collect()], sdf.columns
    res = duck.sql(ORACLES[name])
    ocols, orows = [d[0] for d in res.description], res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert check_oracle.norm_rows(scols, srows) == check_oracle.norm_rows(ocols, orows)
