"""Cache lifetime: a query built and collected leaves nothing in Spark's
cache manager, so no harness-level ``clearCache()`` is needed after it.
Covers the queries whose iterative graph loops run on ``api.iterate``."""

from __future__ import annotations

import pytest

from spark_ml_spark.registry import collect

QUERIES, _ = collect()


@pytest.mark.parametrize(
    "name",
    ["q_bfs_levels", "q_shortest_path_k", "q_canonical_docs", "q_dedup_clusters"],
)
def test_query_leaves_no_cache_entries(spark, sf_dir, name):
    spark.catalog.clearCache()
    QUERIES[name](spark, sf_dir).collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.numCachedEntries() == 0
