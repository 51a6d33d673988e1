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


@pytest.fixture(
    params=[(n, aqe) for n in (1, 3, 32) for aqe in ("true", "false")],
    ids=lambda p: f"sp{p[0]}-aqe_{p[1]}",
)
def rank_confs(spark, request):
    """Runs a test once per shuffle-partition count × AQE setting — confs
    that must not change a two-phase rank — on the shared session, and
    restores the session's own values afterwards."""
    n, aqe = request.param
    confs = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.enabled": aqe,
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
