"""Invariant tests for the wave-6 selection/mining operators
(operators/selection.py) — semantic properties the oracle-differential
gate can't express (it only proves Spark == DuckDB on the same SQL),
plus grouped_rank unit coverage.

All run at sf0.001 (cheap) — the oracle gate already covers
sf0.01/sf0.1 value equality.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from spark_ml_spark import api
from spark_ml_spark.operators import selection as S

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# grouped_rank primitive
# --------------------------------------------------------------------------

def test_grouped_rank_matches_plain_window(spark, invariant_confs):
    """Two-phase grouped rank == single-window row_number on a skewed
    frame (one giant group, one tiny, one singleton, and a NULL group),
    under every invariant_confs cell."""
    rows = [("a", i, i % 7) for i in range(200)] + [
        ("b", i, 3 - i) for i in range(4)
    ] + [("c", 0, 99), (None, 0, 5), (None, 1, 5)]
    df = spark.createDataFrame(rows, "g string, id long, key long")
    got = {
        (r.g, r.id): (r.rk, r.n)
        for r in api.grouped_rank(
            df, ["g"], ["key", "id"], rank_col="rk", total_col="n",
        ).collect()
    }
    w = W.partitionBy("g").orderBy("key", "id")
    want = {
        (r.g, r.id): (r.rk, r.n)
        for r in df.withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("g")))
        .collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# Operator invariants on the fixture
# --------------------------------------------------------------------------

def test_domain_split_is_group_disjoint(spark):
    """Every source lands in exactly one split, and the report conserves
    docs/sources/chars."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs, n_sources, sum_chars = docs.agg(
        F.count(F.lit(1)), F.countDistinct("source"), F.sum("n_chars")
    ).first()
    rep = S.q_domain_split(spark, SF).collect()
    assert {r.split for r in rep} <= {"train", "val", "test"}
    assert sum(r.n_docs for r in rep) == n_docs
    # group-disjointness: split is a pure function of source, so summing
    # per-split DISTINCT source counts must equal the global distinct
    # count (overlap would double-count)
    assert sum(r.n_sources for r in rep) == n_sources
    assert sum(r.sum_chars for r in rep) == sum_chars


def test_hard_negatives_band_and_labels(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = S.q_hard_negatives(spark, SF).collect()
    assert out, "band should be populated at sf0.001"
    by_q: dict[int, list] = {}
    for r in out:
        assert labels[r.vec_id] != labels[r.qid], "negative shares query label"
        assert S._HN_LO_E4 <= r.sim_e4 < S._HN_HI_E4
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.sim_e4 for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert len(rs) <= S._HN_TOPK


def test_canonical_docs_picks_best_member(spark):
    """One row per cluster; the representative is the max-chars member;
    clusters agree with q_dedup_clusters' components."""
    from spark_ml_spark.operators.dedup import q_dedup_clusters

    clusters = q_dedup_clusters(spark, SF).collect()
    members: dict[int, list[int]] = {}
    for r in clusters:
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "n_chars").collect()
    }
    out = S.q_canonical_docs(spark, SF).collect()
    assert sorted(r.cluster_id for r in out) == sorted(members)
    for r in out:
        ms = members[r.cluster_id]
        assert r.n_members == len(ms)
        assert r.total_chars == sum(chars[m] for m in ms)
        best = min(ms, key=lambda m: (-chars[m], m))
        assert r.canonical_doc == best
        assert r.canonical_chars == chars[best]


def test_length_batching_conserves_and_bounds(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    out = S.q_length_batching(spark, SF).collect()
    assert sum(r.batch_docs for r in out) == n_docs
    for r in out:
        assert 1 <= r.batch_docs <= S._LB_BATCH
        assert r.pad_waste >= 0
        assert r.batch_docs * r.max_tok - r.sum_tok == r.pad_waste
        # band membership: max token count stays inside the band range
        assert r.band * S._LB_BAND <= r.max_tok < (r.band + 1) * S._LB_BAND


def test_drift_diff_conserves_events_and_classifies(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    total = ev.count()
    out = S.q_drift_diff(spark, SF).collect()
    assert sum(r.cnt_a + r.cnt_b for r in out) == total
    for r in out:
        if r.status == "added":
            assert r.cnt_a == 0 and r.cnt_b > 0
        elif r.status == "removed":
            assert r.cnt_a > 0 and r.cnt_b == 0
        elif r.status == "stable":
            assert r.cnt_a == r.cnt_b > 0
        else:
            assert r.status == "changed"
            assert r.cnt_a > 0 and r.cnt_b > 0 and r.cnt_a != r.cnt_b


def test_quantile_normalize_is_per_lang_percent_rank(spark):
    out = S.q_quantile_normalize(spark, SF).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        assert 0 <= r.pct_ppm <= 1_000_000
        by_lang.setdefault(r.lang, []).append(r)
    for _lang, rs in by_lang.items():
        rs.sort(key=lambda r: (r.n_chars, r.doc_id))
        ppms = [r.pct_ppm for r in rs]
        assert ppms == sorted(ppms), "pct must be monotone in (chars, id)"
        assert ppms[0] == 0 and ppms[-1] == 1_000_000


def test_dsir_enriches_target_language(spark):
    """Importance resampling property: the selected subset must be
    ENRICHED in the target language relative to its corpus base rate
    (the fixture's synthetic languages share much of their vocabulary,
    so enrichment — not purity — is the honest invariant; exact values
    are pinned by the oracle gate)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    n_en = docs.filter(F.col("lang") == S._DSIR_TARGET_LANG).count()
    out = S.q_dsir_select(spark, SF).collect()
    assert len(out) == S._DSIR_TOP
    en = sum(1 for r in out if r.lang == S._DSIR_TARGET_LANG)
    assert en / len(out) > n_en / n_docs, "top-K must beat the base rate"
    scores = [r.dsir_micro for r in out]
    assert scores == sorted(scores, reverse=True)


# --------------------------------------------------------------------------
# Wave 7: BM25, weighted sampling, embedding drift
# --------------------------------------------------------------------------

def test_weighted_sample_matches_python_mirror(spark):
    """The Efraimidis–Spirakis draw is fully deterministic (md5-derived
    uniforms), so an exact Python mirror must produce the same top-K."""
    import hashlib
    import math

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "n_chars").collect()
    keys = []
    for r in docs:
        if r.n_chars <= 0:
            continue
        h32 = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16)
        u = (h32 + 0.5) / 4294967296.0
        key = math.floor(math.log(u) / float(r.n_chars) * 1e9 + 0.5)
        keys.append((key, r.doc_id))
    keys.sort(key=lambda t: (-t[0], t[1]))
    want = [(d, k) for k, d in keys[: S._WS_K]]
    got = [
        (r.doc_id, r.key_nano) for r in S.q_weighted_sample(spark, SF).collect()
    ]
    assert got == want


def test_weighted_sample_prefers_heavy_rows(spark):
    """Length-proportional sampling: the sample's mean weight must
    exceed the corpus mean weight (inclusion probability ∝ weight)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample = S.q_weighted_sample(spark, SF).collect()
    sample_mean = sum(r.weight for r in sample) / len(sample)
    assert sample_mean > corpus_mean


def test_bm25_output_shape_and_terms(spark):
    out = S.q_bm25_rank(spark, SF).collect()
    assert 0 < len(out) <= S._BM25_TOPK
    scores = [r.bm25_micro for r in out]
    assert scores == sorted(scores, reverse=True)
    for r in out:
        assert 1 <= r.n_terms <= S._BM25_NTERMS
        assert r.bm25_micro > 0  # idf of mid-frequency terms is positive


def test_embedding_drift_counts_and_bounds(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    label_counts = {
        (r.label, r.snap): r.n
        for r in emb.groupBy(
            "label", (F.col("vec_id") % 2).alias("snap")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out = S.q_embedding_drift(spark, SF).collect()
    assert {r.label for r in out} == {l for l, _ in label_counts}
    for r in out:
        assert r.n_a == label_counts[(r.label, 0)]
        assert r.n_b == label_counts[(r.label, 1)]
        assert 0 <= r.max_dim_drift_milli <= r.l1_drift_milli
