"""Property-based tests (hypothesis): Spark expression implementations vs
pure-Python reference implementations on randomized inputs.

Each example costs a Spark job, so examples are capped; the properties
still explore edge shapes unit tests miss (empty docs, single tokens,
repeated tokens, unicode, zero-gaps)."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_ml_spark import api
from spark_ml_spark.functions.text import char_ngrams, word_shingles

WORDS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)
DOCS = st.lists(WORDS, min_size=0, max_size=30).map(" ".join)

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def py_word_shingles(text: str, k: int) -> set[str]:
    toks = text.strip().split()
    if text.strip() == "":
        toks = [""]  # Spark's split of "" yields [""]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def py_char_ngrams(text: str, n: int) -> set[str]:
    return {text[i:i + n] for i in range(len(text) - n + 1)}


@SETTINGS
@given(docs=st.lists(DOCS, min_size=1, max_size=8), k=st.integers(2, 4))
def test_word_shingles_matches_python(spark, docs, k):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, txt string"
    )
    out = df.select("id", word_shingles("txt", k).alias("g")).collect()
    for r in out:
        assert set(r.g) == py_word_shingles(docs[r.id], k), docs[r.id]


@SETTINGS
@given(docs=st.lists(DOCS, min_size=1, max_size=8), n=st.integers(2, 4))
def test_char_ngrams_matches_python(spark, docs, n):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "id long, txt string"
    )
    out = df.select("id", char_ngrams("txt", n).alias("g")).collect()
    for r in out:
        assert set(r.g) == py_char_ngrams(docs[r.id], n), docs[r.id]


@SETTINGS
@given(
    offsets=st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 7200), st.integers(0, 999_999)
        ),
        min_size=1,
        max_size=20,
    )
)
# a 1800.4 s gap is a new session, though its whole seconds tie the limit
@example(offsets=[(0, 0, 0), (0, 1800, 400_000)])
def test_sessionize_matches_python(spark, offsets):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (uid, base + datetime.timedelta(seconds=sec, microseconds=us), i)
        for i, (uid, sec, us) in enumerate(offsets)
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, eid long")
    got = {
        r.eid: r.session_id
        for r in api.sessionize(df, "uid", "ts", "eid", 1800).collect()
    }
    # python reference
    want = {}
    per_user: dict[int, list] = {}
    for uid, ts, eid in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        prev = per_user.get(uid)
        if prev is None or ts - prev[0] > datetime.timedelta(seconds=1800):
            sid = (prev[1] if prev else 0) + 1
        else:
            sid = prev[1]
        per_user[uid] = (ts, sid)
        want[eid] = sid
    assert got == want


@SETTINGS
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 2), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=20,
    )
)
def test_l1_normalize_property(spark, vals):
    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(vals)], "grp long, v double, i long"
    )
    out = api.l1_normalize(df, ["grp"], "v").collect()
    sums: dict[int, float] = {}
    for r in out:
        if r.v_frac is not None:
            sums[r.grp] = sums.get(r.grp, 0.0) + r.v_frac
        else:
            # NULL only for zero-sum groups
            assert sum(v for g, v in vals if g == r.grp) == 0.0
    for g, s in sums.items():
        assert abs(s - 1.0) < 1e-9


def test_token_packing_invariants(spark, sf_dir):
    """Packing conservation laws: per source, bin token sums add up to the
    source's total tokens; doc counts add up to the source's doc count;
    bin_ids start at 0 with no gaps."""
    from pyspark.sql import functions as F

    from spark_ml_spark.io.sources import load
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    bins = queries["q_token_packing"](spark, sf_dir).collect()
    docs = (
        load(spark, sf_dir, "documents")
        .select("source", F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("tok"), F.count(F.lit(1)).alias("docs"))
        .collect()
    )
    want = {r.source: (r.tok, r.docs) for r in docs}
    by_source: dict[str, list] = {}
    for b in bins:
        by_source.setdefault(b.source, []).append(b)
    assert set(by_source) == set(want)
    for src, rows in by_source.items():
        assert sum(r.bin_tokens for r in rows) == want[src][0]
        assert sum(r.n_docs for r in rows) == want[src][1]
        ids = sorted(r.bin_id for r in rows)
        assert ids == list(range(len(ids)))  # dense from 0: sequential fill


def test_domain_mix_shares_sum_to_one(spark, sf_dir):
    """Token shares across all (source, lang) cells must sum to ~1."""
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    rows = queries["q_domain_mix"](spark, sf_dir).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3


# each example runs once per rank_confs cell, so fewer examples per cell
RANK_SETTINGS = settings(SETTINGS, max_examples=5)


@given(st.lists(st.integers(min_value=-1000, max_value=1000),
                min_size=1, max_size=60))
@RANK_SETTINGS
def test_global_rank_matches_sorted_enumerate(spark, rank_confs, vals):
    """api.global_rank (two-phase, no single-partition window) must equal
    plain sorted-order enumeration for any multiset of keys, with the id
    tiebreaker making the order total, under every rank_confs cell."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = {
        r.id: (r.global_rank, r.n_total)
        for r in api.global_rank(df, ["v", "id"]).collect()
    }
    expect = {
        rid: rank
        for rank, (v, rid) in enumerate(
            sorted((v, i) for i, v in enumerate(vals)), start=1
        )
    }
    assert {k: v[0] for k, v in got.items()} == expect
    assert all(v[1] == len(vals) for v in got.values())


@given(st.lists(st.tuples(
    st.integers(min_value=-1000, max_value=1000),
    st.integers(min_value=0, max_value=100)),
    min_size=1, max_size=60))
@RANK_SETTINGS
def test_global_prefix_sum_matches_sorted_cumsum(spark, rank_confs, pairs):
    """api.global_prefix_sum must equal a plain sorted-order running sum
    for any multiset of (key, weight), with the id tiebreaker making the
    order total, under every rank_confs cell."""
    df = spark.createDataFrame(
        [(i, v, w) for i, (v, w) in enumerate(pairs)],
        "id long, v long, w long",
    )
    got = {
        r.id: (r.cum_sum, r.sum_total)
        for r in api.global_prefix_sum(df, ["v", "id"], "w").collect()
    }
    acc, expect = 0, {}
    for v, rid, w in sorted((v, i, w) for i, (v, w) in enumerate(pairs)):
        acc += w
        expect[rid] = acc
    total = sum(w for _, w in pairs)
    assert {k: c for k, (c, _) in got.items()} == expect
    assert all(t == total for _, t in got.values())


TWO_PHASE = {
    "global_rank": lambda df, **kw: api.global_rank(df, ["v"], **kw),
    "global_prefix_sum":
        lambda df, **kw: api.global_prefix_sum(df, ["v"], "v", **kw),
    "grouped_rank": lambda df, **kw: api.grouped_rank(df, ["g"], ["v"], **kw),
}


@pytest.mark.parametrize("fn", list(TWO_PHASE))
def test_two_phase_rejects_colliding_columns(spark, fn):
    """Input columns named like a working or output column, and an output
    column named like the total column, are rejected before any plan is
    built: either would silently corrupt results through ambiguous
    references."""
    call = TWO_PHASE[fn]
    out = "cum_col" if fn == "global_prefix_sum" else "rank_col"
    df = spark.createDataFrame([("a", 1)], "g string, v long")
    with pytest.raises(ValueError, match="collide"):
        call(df.withColumn("_pid", F.lit(0)))
    with pytest.raises(ValueError, match="collide"):
        call(df, **{out: "g"})
    with pytest.raises(ValueError, match="must differ"):
        call(df, **{out: "x", "total_col": "x"})


def test_funnel_counts_monotone(spark, sf_dir):
    """Each funnel step can only lose users: counts are non-increasing
    and conversion starts at 1.0."""
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    rows = sorted(
        queries["q_funnel"](spark, sf_dir).collect(), key=lambda r: r.step
    )
    assert [r.step for r in rows] == [1, 2, 3, 4]
    assert rows[0].conversion == 1.0
    counts = [r.n_users for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_gap_fill_spine_is_dense(spark, sf_dir):
    """Gap-filled series must be hourly-dense per user (consecutive
    spine rows exactly 1h apart) and carried_value must never be null."""
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    rows = queries["q_gap_fill"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
        assert r.carried_value is not None
    for series in by_user.values():
        series.sort(key=lambda r: r.hr)
        for a, b in zip(series, series[1:]):
            assert (b.hr - a.hr) == datetime.timedelta(hours=1)


def test_curation_op_invariants(spark, sf_dir):
    """Structural invariants of the r3 curation operators that must hold
    on ANY fixture regeneration (the oracle gate proves engine-equality;
    these prove the semantics themselves).

    - vocab: df <= tf per token (a doc contributes >=1 occurrence), the
      cut is exactly K rows (or the full vocabulary if smaller) in
      (tf desc, token) order;
    - substring dedup: dup_spans <= total_spans, ppm in [0, 1e6], and a
      doc's total spans == its token count - 7;
    - outliers: exactly OUTLIER_K flagged per label, rank is a
      permutation of 1..n within each label;
    - quantization: q range within [-127, 127] by construction of the
      symmetric scale (amax/127 maps the extreme element to +/-127)."""
    from spark_ml_spark.operators.curation import _OUTLIER_K, _VOCAB_K
    from spark_ml_spark.registry import collect

    queries, _ = collect()

    vocab = queries["q_vocab_build"](spark, sf_dir).collect()
    assert 0 < len(vocab) <= _VOCAB_K
    assert all(r.df <= r.tf for r in vocab)
    assert [(-r.tf, r.token) for r in vocab] == sorted(
        (-r.tf, r.token) for r in vocab
    )

    spans = queries["q_substring_dedup"](spark, sf_dir).collect()
    toks = {
        r.doc_id: r.ws_tokens
        for r in queries["q_token_count"](spark, sf_dir).collect()
    }
    for r in spans:
        assert 0 <= r.dup_spans <= r.total_spans
        assert 0 <= r.dup_ppm <= 1_000_000
        assert r.total_spans == toks[r.doc_id] - 7

    outl = queries["q_doc_outliers"](spark, sf_dir).collect()
    by_label: dict[int, list] = {}
    for r in outl:
        by_label.setdefault(r.label, []).append(r)
    for rows in by_label.values():
        assert sum(r.is_outlier for r in rows) == min(_OUTLIER_K, len(rows))
        assert sorted(r.outlier_rank for r in rows) == list(
            range(1, len(rows) + 1)
        )

    quant = queries["q_quantize_embeddings"](spark, sf_dir).collect()
    for r in quant:
        assert -127 <= r.q_min <= r.q_max <= 127
        assert r.scale_nano >= 0

    enc = queries["q_tokenize_ids"](spark, sf_dir).collect()
    for r in enc:
        assert 0 <= r.n_oov <= r.n_tokens
        assert r.n_tokens == toks[r.doc_id]
        # ids are 1..K, so the checksum is bounded by in-vocab count * K
        assert 0 <= r.id_sum <= (r.n_tokens - r.n_oov) * _VOCAB_K


def test_second_wave_curation_invariants(spark, sf_dir):
    """Structural invariants of the r3 second-wave curation ops
    (LM scoring / chunking / PQ), fixture-regeneration-proof like
    test_curation_op_invariants above.

    - lm_score: every token scores, so n_tokens matches the corpus token
      count; the mean is floor-rounded between the doc's min and max
      conceivable per-token surprisal (sum/n bracketing);
    - chunking: chunk ids are dense 0..nc-1 with tok_start = id*S; every
      chunk but the last is exactly C tokens and the last is 1..C with
      full coverage of the doc (last start + its length == n for n > C);
    - pq_topk: exactly TOPK hits, codes in [0, K), the query itself
      excluded, distances non-negative and non-decreasing in rank order."""
    from spark_ml_spark.operators.curation import (
        _CHUNK_C,
        _CHUNK_S,
        _PQ_K,
        _PQ_QID,
        _PQ_TOPK,
    )
    from spark_ml_spark.registry import collect

    queries, _ = collect()

    toks = {
        r.doc_id: r.ws_tokens
        for r in queries["q_token_count"](spark, sf_dir).collect()
    }

    lm = queries["q_lm_score"](spark, sf_dir).collect()
    assert {r.doc_id for r in lm} == set(toks)
    for r in lm:
        assert r.n_tokens == toks[r.doc_id]
        assert r.surprisal_micro > 0
        # mean is floor(sum/n + .5): within 1 of the exact ratio
        assert abs(r.xent_micro - r.surprisal_micro / r.n_tokens) <= 1

    chunks = queries["q_chunk_documents"](spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(toks)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        n = toks[doc_id]
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        for r in rows:
            assert r.tok_start == r.chunk_id * _CHUNK_S
        *full, last = rows
        assert all(r.n_chunk_toks == _CHUNK_C for r in full)
        assert 1 <= last.n_chunk_toks <= _CHUNK_C
        # coverage: the last window reaches the end of the document
        assert last.tok_start + last.n_chunk_toks == n or (
            len(rows) == 1 and last.n_chunk_toks == min(n, _CHUNK_C)
        )

    pq = queries["q_pq_topk"](spark, sf_dir).collect()
    assert len(pq) == _PQ_TOPK
    assert all(r.vec_id != _PQ_QID for r in pq)
    dists = [r.adc_dist for r in pq]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)
    for r in pq:
        for s in range(4):
            assert 0 <= r[f"code{s}"] < _PQ_K


def test_budget_allocation_exactness(spark, sf_dir):
    """Largest-remainder apportionment MUST hand out exactly T tokens:
    sum(alloc) == T, every source gets base or base+1, and the number of
    +1s equals the leftover after the floor pass."""
    from spark_ml_spark.operators.curation import _BUDGET_T
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    rows = queries["q_budget_allocate"](spark, sf_dir).collect()
    assert sum(r.alloc for r in rows) == _BUDGET_T
    assert all(r.extra in (0, 1) for r in rows)
    assert all(r.alloc == r.base_alloc + r.extra for r in rows)
    assert sum(r.extra for r in rows) == _BUDGET_T - sum(
        r.base_alloc for r in rows
    )


def test_winsorize_bounds_coherent(spark, sf_dir):
    """Winsorization invariants per language: p05 <= p95, clip counts
    bounded by n_docs, and the clamped mass lies in
    [n_docs*p05, n_docs*p95]."""
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    for r in queries["q_winsorize"](spark, sf_dir).collect():
        assert r.p05 <= r.p95
        assert 0 <= r.n_clip_lo <= r.n_docs
        assert 0 <= r.n_clip_hi <= r.n_docs
        assert r.n_docs * r.p05 <= r.sum_winsorized <= r.n_docs * r.p95


def test_bloom_never_misses(spark, sf_dir):
    """The Bloom prefilter's defining guarantee: NO false negatives.
    Every document's bloom-maybe count must be >= its exact shared-gram
    count from q_decontaminate (and <= its total gram count)."""
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    bloom = {
        r.doc_id: r
        for r in queries["q_bloom_decontaminate"](spark, sf_dir).collect()
    }
    exact = {
        r.doc_id: r.n_shared_grams
        for r in queries["q_decontaminate"](spark, sf_dir).collect()
    }
    assert bloom, "bloom probe returned no rows"
    for doc_id, r in bloom.items():
        assert 0 <= r.n_maybe <= r.n_grams
        assert r.n_maybe >= exact.get(doc_id, 0), (
            f"doc {doc_id}: bloom missed true hits"
        )
    # and every exactly-contaminated doc appears in the probe output
    assert set(exact) <= set(bloom)


def test_reservoir_sample_density(spark, sf_dir):
    """Fixed-K reservoir: per language, at most K rows with rank a dense
    1..min(K, n) prefix, and no duplicate documents."""
    from spark_ml_spark.operators.curation import _RSV_K
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    rows = queries["q_reservoir_sample"](spark, sf_dir).collect()
    assert len(rows) == len({(r.lang, r.doc_id) for r in rows})
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.rk)
    for rks in by_lang.values():
        assert len(rks) <= _RSV_K
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_stream_sessions_disjoint(spark, sf_dir):
    """Native session_window output: per user, sessions are
    non-overlapping, each at least gap-long (end = last event + 30 min),
    ordered starts, with n_events >= 1."""
    from spark_ml_spark.registry import collect

    queries, _ = collect()
    rows = queries["q_stream_session_window"](spark, sf_dir).collect()
    gap_us = 1800 * 1_000_000
    by_user: dict[int, list] = {}
    for r in rows:
        assert r.n_events >= 1
        assert r.sess_end_us - r.sess_start_us >= gap_us
        by_user.setdefault(r.user_id, []).append(r)
    for sess in by_user.values():
        sess.sort(key=lambda r: r.sess_start_us)
        for a, b in zip(sess, sess[1:]):
            assert a.sess_end_us <= b.sess_start_us


@given(st.text(alphabet="0123456789abcdef", min_size=10, max_size=10))
@settings(max_examples=200, deadline=None)
def test_hll_rho_sql_matches_bit_length(hexstr):
    """The hex-string rank expression (leading-zero-run + nibble CASE)
    equals the arithmetic definition rho = NLZ(40-bit value) + 1 for
    every possible 10-hex-char input — evaluated through DuckDB, the
    same engine the oracles run it in."""
    import duckdb

    from spark_ml_spark.operators.sketches import _HLL_VBITS, _hll_rho_sql

    v = int(hexstr, 16)
    want = (_HLL_VBITS + 1) if v == 0 else _HLL_VBITS - v.bit_length() + 1
    got = duckdb.sql(
        f"SELECT {_hll_rho_sql(f'''('{hexstr}')''')} AS r"
    ).fetchone()[0]
    assert got == want, (hexstr, got, want)


@given(st.text(alphabet="0123456789abcdef", min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_hex_int_sql_matches_python(hexstr):
    """The strpos-arithmetic hex decoder equals int(s, 16) for every
    hex string up to the 48-bit width the sketches use."""
    import duckdb

    from spark_ml_spark.operators.sketches import _hex_int_sql

    got = duckdb.sql(
        f"SELECT {_hex_int_sql(f'''('{hexstr}')''', 1, len(hexstr))} AS v"
    ).fetchone()[0]
    assert got == int(hexstr, 16)


@given(
    st.sets(
        st.integers(min_value=0, max_value=2 ** 48 - 1), min_size=1,
        max_size=400,
    )
)
@settings(max_examples=50, deadline=None)
def test_kmv_estimator_python_model(hashes):
    """Pure-Python model of the KMV estimator: below K it is exact; at
    or above K the integer rounded-division estimate is within 1 of the
    float formula (the quantization can never drift further)."""
    from spark_ml_spark.operators.sketches import _KMV_K, _KMV_NUM

    bottom = sorted(hashes)[:_KMV_K]
    if len(hashes) < _KMV_K:
        est = len(bottom)
        assert est == len(hashes)
    else:
        hk = bottom[-1]
        if hk == 0:
            return  # degenerate: all-zero hash cannot occur for md5 pools
        est = (_KMV_NUM + hk // 2) // hk
        assert abs(est - _KMV_NUM / hk) <= 1
