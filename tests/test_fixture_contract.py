"""Fixture-schema contract: the driver REGENERATES /root/testdata between
rounds (TESTDATA.md), and a silent schema change there (like the r3
TIMESTAMP(NANOS) → timestamp[us] switch) breaks queries with a confusing
blast radius. This test pins every table's parquet schema so a fixture
drift fails HERE first, with a diff naming the table and column —
minutes of diagnosis instead of hours of oracle-mismatch archaeology.

The arrow contract reads parquet footers only (no Spark session) and runs
in milliseconds. ``io.sources.SCHEMAS`` declares the same contract in
Spark's types, and every fixture and relay read uses it instead of
inferring; the Spark half below checks that the declared schemas equal
what Spark would infer, nullability included, and that reads built on
them run no job.
"""

from __future__ import annotations

import glob
import os
import uuid

import pyarrow.parquet as pq
import pytest

from perfbench import datagen
from spark_ml_spark.io import sources
from spark_ml_spark.io.sources import SCHEMAS, TABLES, load
from spark_ml_spark.registry import collect

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))

#: (column, arrow type) per table — the contract every operator and
#: oracle in the repo is written against (FIXTURES.md §A)
EXPECTED = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int32"), ("n_name", "string"),
        ("n_regionkey", "int32"),
    ],
    "customer": [
        ("c_custkey", "int64"), ("c_name", "string"),
        ("c_nationkey", "int32"), ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "int64"), ("s_name", "string"),
        ("s_nationkey", "int32"), ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "int64"), ("p_name", "string"),
        ("p_brand", "string"), ("p_type", "string"),
        ("p_size", "int32"), ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "int64"), ("o_custkey", "int64"),
        ("o_orderstatus", "string"), ("o_totalprice", "double"),
        ("o_orderdate", "timestamp[us]"), ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "int64"), ("l_partkey", "int64"),
        ("l_suppkey", "int64"), ("l_linenumber", "int32"),
        ("l_quantity", "double"), ("l_extendedprice", "double"),
        ("l_discount", "double"), ("l_tax", "double"),
        ("l_returnflag", "string"), ("l_linestatus", "string"),
        ("l_shipdate", "timestamp[us]"),
    ],
    "events": [
        ("event_id", "int64"), ("ts", "timestamp[us]"),
        ("user_id", "int64"), ("event_type", "string"),
        ("value", "double"), ("props", "string"),
    ],
    "documents": [
        ("doc_id", "int64"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "int64"),
    ],
    "embeddings": [
        ("vec_id", "int64"), ("embedding", "list<element: float>"),
        ("label", "int32"),
    ],
}


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_table_schema_matches_contract(sf_dir, table):
    path = os.path.join(sf_dir, f"{table}.parquet")
    assert os.path.exists(path), f"fixture table missing: {path}"
    schema = pq.read_schema(path)
    got = [(f.name, str(f.type)) for f in schema]
    assert got == EXPECTED[table], (
        f"{table} schema drifted at {sf_dir} — update FIXTURES.md and "
        f"audit every operator/oracle touching the changed columns"
    )


def test_all_sf_dirs_present():
    names = {os.path.basename(d) for d in SF_DIRS}
    assert {"sf0.001", "sf0.01", "sf0.1"} <= names


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory) -> str:
    """The benchmark generator's tables, so a generator that drifts from
    the declared schemas fails here too."""
    out = str(tmp_path_factory.mktemp("generated"))
    datagen.write_tables(out, 0.001, 1)
    return out


@pytest.mark.parametrize("sf_dir", SF_DIRS + ["generated"], ids=os.path.basename)
@pytest.mark.parametrize("table", TABLES)
def test_declared_schema_equals_inferred(spark, request, sf_dir, table):
    """A declared type or nullability that differs from the file would
    otherwise show up later as a widened type or a silent NULL column."""
    if sf_dir == "generated":
        sf_dir = request.getfixturevalue("generated_dir")
    inferred = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).schema
    assert SCHEMAS[table] == inferred, (
        f"{table} at {sf_dir}: declared {SCHEMAS[table].simpleString()}, "
        f"inferred {inferred.simpleString()}"
    )


def test_declared_reads_run_no_job(spark, sf_dir, tmp_path, monkeypatch):
    """Loading every table and building the relay-backed scans runs no
    Spark job once the relays exist: no read infers its schema."""
    monkeypatch.setattr(sources, "_CACHE_DIR", str(tmp_path))
    queries = collect()[0]
    names = ("q_orc_scan", "q_partition_pruning", "q_csv_scan", "q_json_scan")
    for name in names:
        queries[name](spark, sf_dir)  # builds the relays
    sc = spark.sparkContext
    group = f"declared-reads-{uuid.uuid4().hex[:8]}"
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group, "declared reads")
    try:
        for t in TABLES:
            load(spark, sf_dir, t).schema
        for name in names:
            queries[name](spark, sf_dir).schema
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
