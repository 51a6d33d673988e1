"""Bucketed co-located join: the 100 TB answer to the lineitem⋈orders
shuffle. Both fact tables are written hash-bucketed on the join key; the
join plan must then contain NO Exchange on either side (each bucket pair
merges locally), and results must equal the plain shuffle join."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_ml_spark.api import write_bucketed
from spark_ml_spark.io.sources import load


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bucketed_test"))
    write_bucketed(
        load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        ),
        "lineitem_b", os.path.join(base, "lineitem_b"), "l_orderkey",
    )
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        "orders_b", os.path.join(base, "orders_b"), "o_orderkey",
    )
    return "lineitem_b", "orders_b"


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    li, o = bucketed_tables
    # at test scale AQE would just broadcast the small side; disable it so
    # the plan shows what happens when BOTH sides are 100 TB facts
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(li).join(
            spark.table(o), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: zero shuffle on both sides


def test_bucketed_join_matches_shuffle_join(spark, sf_dir, bucketed_tables):
    li, o = bucketed_tables
    bucketed = (
        spark.table(li)
        .join(spark.table(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("s"),
        )
        .first()
    )
    li_raw = load(spark, sf_dir, "lineitem")
    o_raw = load(spark, sf_dir, "orders")
    plain = (
        li_raw.join(o_raw, li_raw.l_orderkey == o_raw.o_orderkey)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("s"),
        )
        .first()
    )
    assert (bucketed.n, bucketed.s) == (plain.n, plain.s)
