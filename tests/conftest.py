"""Shared fixtures: one SparkSession per test run (startup ≈12s — never
per-test), DuckDB connection with the testdata views registered."""

from __future__ import annotations

import os

import duckdb
import pytest

from ocdb_server_spark.io import TABLES
from ocdb_server_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ocdb_tests", master="local[8]")
    s.sparkContext.setLogLevel("WARN")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
