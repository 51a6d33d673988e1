"""Shared fixtures: one SparkSession per test session, DuckDB oracle
connection with the driver's view registration, sf dirs."""

from __future__ import annotations

import duckdb
import pytest

from spark_ml_spark.io.sources import TABLES
from spark_ml_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="spark_ml_spark_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM


def make_duck(sf: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


@pytest.fixture(scope="session")
def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with all tables registered as views at sf0.001 —
    mirrors the driver's oracle setup."""
    return make_duck(sf_dir)
