from __future__ import annotations

from contextlib import contextmanager
from unittest import mock

import duckdb
import pytest

from xorbits_sql_spark.session import get_spark

import os

SF_SMOKE = "/root/testdata/sf0.001"
# Oracle-parity scale factor; override to run the whole parity suite at
# another SF (verified bit-exact at sf0.001, sf0.01, and sf0.1):
#   XSS_SF_DIR=/root/testdata/sf0.1 pytest tests/test_oracle_parity.py
SF_ORACLE = os.environ.get("XSS_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    return get_spark("xorbits-sql-spark-tests")


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.01 tables registered as views,
    mirroring the driver's oracle setup."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    return con


@contextmanager
def spy(module, name):
    """Patch ``module.name`` with a wrapper; yields the list of values
    it returned (empty when it was never called). Tests read which
    tier an operator took from a spy on the tier's function."""
    real, results = getattr(module, name), []

    def wrapper(*args, **kwargs):
        results.append(real(*args, **kwargs))
        return results[-1]

    with mock.patch.object(module, name, wrapper):
        yield results
