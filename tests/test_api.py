"""Public-API tests: the operator library must work on ARBITRARY
DataFrames (not just the driver's test tables) — small in-memory frames
with hand-computable expected results."""

from __future__ import annotations

import datetime
import re

import pytest
from pyspark.sql import functions as F

from spark_ml_spark import api


def test_exact_dedup_arbitrary_df(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "id long, txt string"
    )
    out = {r.keep_id: r.n_copies for r in api.exact_dedup(df, "txt", "id").collect()}
    assert out == {1: 3, 2: 1}


def test_minhash_pairs_finds_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = base.replace("lazy", "sleepy")
    other = "completely different words compose this second document body here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "id long, txt string"
    )
    pairs = api.minhash_near_dup_pairs(df, "id", "txt", threshold=0.3).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert 0.3 <= pairs[0].jaccard < 1.0


def test_simhash_identical_docs_equal_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        "id long, txt string",
    )
    out = {r.doc_id: r.simhash for r in api.simhash64(
        df, "id", F.split(F.col("txt"), " ")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_cosine_topk_orders_by_similarity(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "id long, emb array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.0],)], "q_emb array<double>")
    out = api.cosine_topk(df, "id", "emb", q, k=2).collect()
    assert [r.vec_id for r in out] == [1, 2]
    assert out[0].cos_sim == 1.0


def test_asof_join_picks_latest_prior(spark):
    ts = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, ts(10), 100), (1, ts(30), 101), (2, ts(10), 200)],
        "uid long, ts timestamp, lid long",
    )
    right = spark.createDataFrame(
        [(1, ts(5), 1.0), (1, ts(20), 2.0), (2, ts(50), 9.0)],
        "uid long, ts timestamp, val double",
    )
    out = {r.lid: r.asof_val for r in api.asof_join(
        left, right, by="uid", ts_col="ts", value_cols=["val"]).collect()}
    # lid 100 sees val 1.0 (ts5 <= ts10 < ts20); lid 101 sees 2.0;
    # lid 200 has no prior right row -> NULL
    assert out == {100: 1.0, 101: 2.0, 200: None}


def test_sessionize_gap_splits(spark):
    ts = lambda m: datetime.datetime(2024, 1, 1, 0, m, 0)
    df = spark.createDataFrame(
        [(1, ts(0), 1), (1, ts(10), 2), (1, ts(50), 3), (2, ts(0), 4)],
        "uid long, ts timestamp, eid long",
    )
    out = {r.eid: r.session_id for r in api.sessionize(
        df, "uid", "ts", "eid", gap_seconds=1800).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_minhash_empty_and_short_docs(spark):
    # empty / sub-k docs are filtered, never crash the signature stage
    df = spark.createDataFrame(
        [(1, ""), (2, "one two"), (3, "a b c d e f g h"), (4, "a b c d e f g h")],
        "id long, txt string",
    )
    pairs = api.minhash_near_dup_pairs(df, "id", "txt", threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b, p.jaccard) for p in pairs] == [(3, 4, 1.0)]


def test_sessionize_empty_df(spark):
    df = spark.createDataFrame([], "uid long, ts timestamp, eid long")
    assert api.sessionize(df, "uid", "ts", "eid").count() == 0


def test_l1_normalize_zero_guard(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 0.0)], "grp string, v double"
    )
    out = api.l1_normalize(df, ["grp"], "v").collect()
    fracs = {(r.grp, r.v): r.v_frac for r in out}
    assert fracs[("a", 1.0)] == 0.25
    assert fracs[("a", 3.0)] == 0.75
    assert fracs[("b", 0.0)] is None  # zero-sum group -> NULL, not div/0


def test_connected_components_chain_triangle_singleton(spark, invariant_confs):
    # chain 1-2-3 and triangle 10-11-12 plus edge 11-13 => two components;
    # node 20-20 self edge stays its own component
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (11, 13), (20, 20)],
        "src long, dst long",
    )
    out = {r.node: r.component for r in api.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20}


def test_connected_components_deep_chain(spark, invariant_confs):
    # diameter-9 path exercises multi-round convergence
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "src long, dst long"
    )
    out = {r.node: r.component for r in api.connected_components(edges).collect()}
    assert out == {i: 1 for i in range(1, 11)}


def test_connected_components_diameter_beyond_15(spark):
    # a diameter-19 path: propagation needs 19 rounds, more than any
    # fixed round cap of 15 would allow
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "src long, dst long"
    )
    out = {r.node: r.component for r in api.connected_components(edges).collect()}
    assert out == {i: 1 for i in range(1, 21)}


def test_iterate_requires_exactly_one_stop_rule(spark):
    df = spark.range(3)
    with pytest.raises(ValueError):
        api.iterate(df, df, lambda s, k: s)
    with pytest.raises(ValueError):
        api.iterate(df, df, lambda s, k: s, rounds=2, until=lambda s: 0)


def test_iterate_reads_pinned_edges_in_place(spark):
    """Under AQE with broadcast joins off, every round's state ⋈ edges
    join reads the pinned, src-partitioned edge list with no exchange on
    the edge side (a checkpointed edge list loses its partitioning under
    AQE and is re-exchanged every round), and the loop leaves nothing in
    Spark's cache manager."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        edges = spark.range(400).select(
            (F.col("id") % 50).alias("src"), (F.col("id") * 7 % 50).alias("dst")
        ).repartition(n, "src")
        state = spark.range(50).select(
            F.col("id").alias("node"), F.lit(0).alias("hits")
        )
        plans = []

        def step(state, k):
            joined = state.join(edges, state.node == edges.src)
            joined.collect()
            plans.append(joined._jdf.queryExecution().executedPlan().toString())
            return joined.groupBy("node").agg(F.count("*").alias("hits"))

        out = api.iterate(edges, state, step, rounds=2)
        assert out.count() == 50
        cache = spark._jsparkSession.sharedState().cacheManager()
        assert cache.numCachedEntries() == 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(plans) == 2
    for plan in plans:
        assert "InMemoryTableScan" in plan
        assert not re.search(
            r"Exchange hashpartitioning\(src#\d+L?, \d+\), ENSURE_REQUIREMENTS",
            plan,
        ), plan


def test_csv_multiline_roundtrip(spark, tmp_path):
    """Embedded newlines in quoted text must round-trip through the CSV
    write/read option set (ADVICE r1: without multiLine the reader
    silently splits such rows)."""
    from spark_ml_spark.io.sources import DOCUMENTS_CSV_SCHEMA

    rows = [
        (1, "line one\nline two", "en", "web", 17),
        (2, "plain", "de", "web", 5),
        (3, 'quoted "inner" and,comma', "en", "web", 24),
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_CSV_SCHEMA)
    out = str(tmp_path / "csv_roundtrip")
    (df.write.mode("overwrite").option("header", True)
       .option("quote", '"').option("escape", "\\").csv(out))
    back = (spark.read.schema(DOCUMENTS_CSV_SCHEMA)
            .option("header", True).option("quote", '"')
            .option("escape", "\\").option("multiLine", True).csv(out))
    got = sorted([tuple(r) for r in back.collect()])
    assert got == sorted(rows)


def test_logreg_classify_structure(spark, sf_dir):
    """End-to-end classification pipeline: hash-gated 80/20 split covers
    every row exactly once and the evaluator yields a valid accuracy.
    (No accuracy floor: the fixture's embeddings carry ~no label signal,
    so accuracy is at 10-class chance and partition-order-sensitive —
    see the operator docstring.)"""
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    row = queries["q_logreg_classify"](spark, sf_dir).collect()[0]
    assert row.n_train + row.n_test == 500
    assert 350 <= row.n_train <= 450  # ~80% gate
    assert 0.0 <= row.accuracy <= 1.0
