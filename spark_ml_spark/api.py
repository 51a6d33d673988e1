"""Public operator API: every engine capability as a composable function
over ARBITRARY DataFrames (the registered ``q_*`` queries are thin
bindings of these onto the driver's test tables).

All functions return lazy DataFrames/Columns — they compose into one
Catalyst plan with the caller's own transformations, and none assumes a
data scale (scale notes per function). Two kinds run or pin work while
the plan is built: ``connected_components`` runs eager
``localCheckpoint`` jobs and a ``.first()`` convergence check every
round, and the two-phase helpers (``global_rank``, ``grouped_rank``,
``global_prefix_sum``) ``persist()`` their range-partitioned input,
which stays in Spark's cache manager until the caller clears it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from spark_ml_spark.functions.text import word_shingles
from spark_ml_spark.functions.vector import cosine, to_double_array

# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------


def one_partition(col: Column | str) -> Column:
    """A constant-valued but NON-FOLDABLE partition key: pins a window
    that runs on a bounded (vocabulary/calendar-sized) table to one
    partition WITHOUT tripping 'WindowExec: No Partition Defined'.

    ``Window.partitionBy(F.lit(0))`` does NOT silence that warning:
    Catalyst constant-folds the literal away, leaving an EMPTY
    partition spec (observed in the r4 scaling-probe logs — 73 warning
    lines from lit(0) sites), and ``col * 0`` is no better —
    ``ReorderAssociativeOperator`` folds multiply-by-zero too.
    ``coalesce(pmod(crc32(cast(col as string)), 1), 0)`` evaluates to 0
    for every row (including NULL input) but no optimizer rule
    simplifies a pmod-by-one, so the spec survives to the physical plan
    and the warning — which this repo treats as a real corpus-sized-
    window signal — stays meaningful. Use ONLY on frames bounded by
    design."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.pmod(F.crc32(c.cast("string")), F.lit(1)), F.lit(0)
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content-digest group-by: one row per distinct
    content, keeping the lowest id. Shuffles 16-byte digests, never
    content."""
    return (
        df.groupBy(F.md5(content_col).alias("content_key"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs with exact-Jaccard
    verification (see ``q_minhash_native`` docstring for the full design).
    Returns (doc_a, doc_b, jaccard) for pairs with jaccard >= threshold.

    Map-only signatures (behind one cheap shuffle barrier), one band-key
    aggregation, verification on candidates only — the 100 TB shape."""
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), shingle_k).alias("g"),
    )
    return minhash_pairs_from_sets(
        docs, num_hashes=num_hashes, bands=bands, threshold=threshold
    )


def minhash_pairs_from_sets(
    docs: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Banded-MinHash near-dup pairs over a (doc_id, g) frame where ``g``
    is any array<string> shingle/token set: band-bucket candidates +
    exact-Jaccard verification on the same sets."""
    docs = docs.filter(F.size("g") > 0)
    cand = minhash_candidates(docs, num_hashes=num_hashes, bands=bands)
    ga = docs.select(F.col("doc_id").alias("doc_a"), F.col("g").alias("ga"))
    gb = docs.select(F.col("doc_id").alias("doc_b"), F.col("g").alias("gb"))
    jac = F.size(F.array_intersect("ga", "gb")).cast("double") / F.size(
        F.array_union("ga", "gb")
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_candidates(
    docs: DataFrame,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """The CANDIDATE stage of banded MinHash over a (doc_id, g) frame:
    distinct (doc_a, doc_b) id pairs sharing ≥1 band bucket — no
    verification, no payloads. Collision threshold ≈
    (1/bands)^(bands/num_hashes); for a pair with Jaccard J the miss
    probability is (1-J^rows)^bands.

    Split out so a verifier can score a DIFFERENT feature space than the
    candidate sets (e.g. q_ngram_jaccard: word-shingle candidates, exact
    char-3-gram verify) — the candidate sets only need recall at the
    verify threshold, so use whichever set family is cheapest and most
    discriminative (word shingles ≫ char n-grams: ~6× fewer elements per
    doc and far lower cross-doc similarity — pitfall #5)."""
    rows = num_hashes // bands
    docs = docs.filter(F.size("g") > 0)
    # barrier: stops CollapseProject from inlining the shingle+hash
    # expression into the K-way transform (measured >15× slowdown)
    hashed = docs.select(
        "doc_id", F.transform("g", lambda s: F.xxhash64(s)).alias("hs")
    ).repartition("doc_id")
    sig = hashed.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda k: F.array_min(F.transform("hs", lambda h: F.xxhash64(k, h))),
        ).alias("sig"),
    )
    band_rows = sig.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice("sig", b * rows + 1, rows)),
            )
        ).alias("band_idx", "band_key"),
    )
    return bucket_pairs(band_rows, ("band_idx", "band_key"))


def bucket_pairs(
    band_rows: DataFrame, bucket_cols: tuple[str, ...] = ("band_idx", "band_key"),
    max_bucket_pop: int | None = None,
) -> DataFrame:
    """Distinct unordered id pairs co-located in any bucket: group a
    (doc_id, *bucket_cols) frame by bucket, expand each bucket's id list
    into its C(n,2) pairs, and dedup across buckets. ONE shuffle (the
    bucket group-by) + the dedup; each unordered pair is generated once,
    where a bucket-key self-join matches both orientations and filters
    half away (wall-clock is within noise of the self-join at test SF —
    the win is one fewer exchange and shared code across every banded-LSH
    candidate stage: MinHash text dedup, sign-LSH embedding dedup).
    Scale caveat: a pathologically hot bucket concentrates its C(n,2)
    expansion (and its collect_list) on one task — cap bucket size
    upstream (more bits per band, as both callers document) or fall back
    to the self-join form, which AQE can skew-split. ``max_bucket_pop``
    turns that documented caveat into a MEASURED bound (VERDICT r2
    §wrong 4): when set, a plan-level ``assert_true`` fails the query
    loudly the moment any bucket exceeds the cap — the signal to add
    band bits — instead of silently burning O(pop²) on one task. The
    check is one comparison per bucket row (free next to the expansion).
    """
    buckets = (
        band_rows.groupBy(*bucket_cols)
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_pop is not None:
        guard = F.assert_true(
            F.size("ids") <= F.lit(max_bucket_pop),
            F.concat(
                F.lit("bucket_pairs: hot bucket population "),
                F.size("ids").cast("string"),
                F.lit(f" exceeds cap {max_bucket_pop} — raise bits-per-band"),
            ),
        )
        # fold the assertion into the live ids column (assert_true yields
        # NULL on success) — a separate dropped column would be pruned by
        # Catalyst and the check silently optimized away
        buckets = buckets.withColumn(
            "ids", F.when(guard.isNull(), F.col("ids"))
        )
    pair_struct = F.explode(
        F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice("ids", i + 2, F.size("ids")),
                    lambda y: F.struct(
                        F.least(x, y).alias("doc_a"), F.greatest(x, y).alias("doc_b")
                    ),
                ),
            )
        )
    )
    return (
        buckets.select(pair_struct.alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash64(df: DataFrame, id_col: str, token_array_col: Column) -> DataFrame:
    """64-bit SimHash fingerprint per row, entirely in built-in
    expressions. Returns (id, simhash)."""
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(token_array_col, lambda t: F.xxhash64(t)).alias("hashes"),
    ).repartition("doc_id")  # barrier — see minhash_near_dup_pairs
    return hashed.select(
        "doc_id",
        F.expr(
            "aggregate(sequence(0, 63), 0L, (acc, b) -> acc + "
            " IF(aggregate(hashes, 0L,"
            "      (a, h) -> a + IF((shiftright(h, b) & 1) = 1, 1L, -1L)) > 0,"
            "    shiftleft(1L, b), 0L))"
        ).alias("simhash"),
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query: DataFrame, k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the single-row ``query``
    (column ``q_emb``), one scan + TakeOrderedAndProject. Correct at any
    corpus size when k is small."""
    return (
        df.select(F.col(id_col).alias("vec_id"), to_double_array(vec_col).alias("emb"))
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(cosine(F.col("emb"), F.col("q_emb")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: DataFrame
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (``centroids``: columns cell_id, ce). Broadcast centroids —
    the corpus never shuffles. Returns df columns + cell_id.

    At 100 TB, persist this partitioned BY cell_id so queries prune to
    their probed cells."""
    w = W.partitionBy(id_col).orderBy(
        _l2sq(to_double_array(vec_col), F.col("ce")), "cell_id"
    )
    return (
        df.crossJoin(F.broadcast(centroids))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "ce")
    )


def ivf_train_centroids(
    df: DataFrame, vec_col: str, n_cells: int, seed: int = 42
) -> DataFrame:
    """Learn IVF centroids with seeded KMeans (MLlib) — the production
    quantizer (the deterministic first-K variant in ``q_ivf_topk`` exists
    for oracle checkability). Returns (cell_id, ce) ready for
    ``ivf_assign``. Train on a sample at scale — centroid quality needs
    thousands of points per cell, not the whole corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(to_double_array(vec_col)).alias("features"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(feats)
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return df.sparkSession.createDataFrame(
        centers, "cell_id int, ce array<double>"
    )


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# --------------------------------------------------------------------------
# Event analytics
# --------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts_col: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join (merge formulation): each left row gains the most recent
    right row (right.ts <= left.ts) within the same ``by`` group. One
    shuffle + one sort — never an inequality nested-loop join. Right's
    carried columns are returned as ``asof_<name>``."""
    lcols = left.columns
    l = left.select(
        *lcols,
        F.lit(0).alias("__is_right"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"asof_{c}") for c in value_cols],
    )
    r = right.select(
        *[
            F.col(c) if c in (by, ts_col) else F.lit(None).cast(t).alias(c)
            for c, t in left.dtypes
        ],
        F.lit(1).alias("__is_right"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
    )
    w = (
        W.partitionBy(by)
        .orderBy(ts_col, F.col("__is_right").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = l.unionByName(r)
    for c in value_cols:
        out = out.withColumn(
            f"asof_{c}", F.last(f"asof_{c}", ignorenulls=True).over(w)
        )
    return out.filter(F.col("__is_right") == 0).select(
        *lcols, *[f"asof_{c}" for c in value_cols]
    )


def sessionize(
    df: DataFrame, user_col: str, ts_col: str, order_col: str, gap_seconds: int = 1800
) -> DataFrame:
    """Assign session ids per user: a gap > gap_seconds starts a new
    session (lag + running-sum pattern; one shuffle on user). Gaps are
    compared in whole microseconds, so 1800.4 s exceeds a 1800 s gap."""
    w = W.partitionBy(user_col).orderBy(ts_col, order_col)
    gap = F.unix_micros(ts_col) - F.unix_micros(F.lag(ts_col, 1).over(w))
    new_session = F.when(
        gap.isNull() | (gap > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn(
        "session_id", F.sum(new_session).over(cum).cast("long")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 16,
) -> None:
    """Persist ``df`` as a bucketed+sorted table (hash-bucketed on the
    join key). Two tables bucketed the same way join with NO exchange on
    either side — at 100 TB this converts the lineitem⋈orders shuffle
    (the single biggest cost in the star schema) into a co-located merge
    per bucket. The table must be read back via ``spark.table`` (bucket
    metadata lives in the catalog, not the files)."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def l1_normalize(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """L1 row-group normalization with zero-guard (window formulation)."""
    w = W.partitionBy(*group_cols)
    return df.withColumn(
        f"{value_col}_frac",
        F.col(value_col) / F.nullif(F.sum(value_col).over(w), F.lit(0.0)),
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iter: int = 15,
) -> DataFrame:
    """Connected components of an undirected graph by iterative
    min-label propagation (Hash-to-Min style). ``edges`` needs one row
    per edge (either direction); returns ``(node, component)`` where
    ``component`` is the smallest node id in the component.

    Each round costs one join + one partial-aggregated min (two
    shuffles of (long, long) rows only); rounds ~= component diameter.
    Convergence is the monotone sum(label) fixpoint — one scalar agg
    per round. Lineage is cut with localCheckpoint so the plan stays
    flat across iterations. For web-scale graphs with deep components,
    swap in large-star/small-star (alternating contraction halves the
    diameter per round); dedup-cluster graphs are shallow, so plain
    propagation converges in a handful of rounds.
    """
    und = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    und = und.union(und.select(F.col("_d").alias("_s"),
                               F.col("_s").alias("_d")))
    # hash-partition the checkpointed edge list on the per-round JOIN
    # key (r12 optimization): the checkpoint preserves partitioning, so
    # every round's und⋈labels join reads the edges in place instead of
    # re-exchanging them each round (guide §2.4; the q_bfs_levels /
    # q_shortest_path_k pattern). Labels are independent of
    # partitioning, so results are unchanged.
    npart = _resolve_partitions(edges)
    und = und.distinct().repartition(npart, "_d").localCheckpoint(eager=True)

    labels = (
        und.select(F.col("_s").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und["_d"] == labels["node"])
            .groupBy(F.col("_s").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        labels = (
            labels.join(neighbor_min, "node", "left")
            .select("node", F.least("label", "nmin").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component"))


# --------------------------------------------------------------------------
# Distributed global ordering
# --------------------------------------------------------------------------


def _resolve_partitions(df: DataFrame) -> int:
    """Range/hash partition count for repartitioning helpers: the
    session's shuffle-partition conf (results never depend on it), or
    the default parallelism when that conf is not a number."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def _col(qualifier: str, name: str) -> Column:
    """Column ``name`` of the frame aliased ``qualifier``."""
    return F.col(f"{qualifier}.`{name}`")


def _two_phase(
    df: DataFrame, group_cols: list[str], sort_cols: list[str],
    weight: str | None, out_col: str, total_col: str,
) -> DataFrame:
    """Inclusive running count (``weight=None``) or running BIGINT sum of
    ``weight`` over ``sort_cols`` within each ``group_cols`` group (the
    whole frame when there are none), WITHOUT a single-partition or
    one-reducer-per-group window (the 'WindowExec: No Partition Defined'
    scale-killer — VERDICT r1 wrong-#4).

    Phase 1: range-repartition on ``group_cols + sort_cols``, so a group
    spans a run of partitions and each partition sorts only its own
    slice; a window over ``(_pid, group)`` gives the local value.
    Phase 2: per-(group, partition) totals fold into one sorted
    array-of-structs row per group, and the exclusive prefix offsets
    become an OFFSETS TABLE keyed by (group, ``_pid``) that broadcast-
    HASH-joins back onto the fact. The fold's lambdas therefore run once
    per offsets row at build time, and ``out_col`` is plain arithmetic:
    callers' pushed-down predicates on it cannot make Catalyst re-expand
    a per-row array fold (r11: the first ``q_weighted_quantile``
    formulation inlined the fold into a BroadcastNestedLoopJoin
    condition, ~11x per fact row). Without groups the fold is one row,
    cross-joined as a broadcast ungrouped aggregate (the Aggregate
    (keys=[]) shape the BNLJ plan gate requires). Group keys join
    null-safely, so a NULL group is ranked like any other.

    ``sort_cols`` must totally order each group (include a unique
    tiebreaker), or values at equal keys are nondeterministic across
    range-partitioner samplings. Output columns: the group columns, the
    other input columns, ``out_col`` and ``total_col`` (the group's row
    count or weight total). Scale bound: the offsets table has one row
    per (group, partition touching it) — meant for few large (skewed)
    groups; for many small groups a plain grouped window is already
    skew-free."""
    # working and output names must not collide with input columns: a
    # pre-existing _pid etc. would silently corrupt values through
    # ambiguous references (ADVICE r2)
    reserved = {
        "_pid", "_loc", "_ptot", "_parts", "_off", "_tot", out_col, total_col,
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with working/output names "
            f"{sorted(clash)}; rename them or pass different output names")
    if out_col == total_col:
        raise ValueError(
            f"the output and total columns must differ (both {out_col!r})")
    # persist the ranged layout: the local-value and per-partition-total
    # branches BOTH read this exchange, and their consistency otherwise
    # depends on Spark deduplicating the two RangePartitioner samplings
    # into one ReusedExchange — when a plan change (e.g. a cached
    # upstream) defeats that reuse, the branches sample different
    # boundaries and values silently corrupt (caught by
    # q_skipping_report's 65-file artifact, r3). Pinning the
    # materialization makes _pid a fact of the data, not of the planner.
    ranged = df.repartitionByRange(
        _resolve_partitions(df), *group_cols, *sort_cols
    ).withColumn("_pid", F.spark_partition_id()).persist()
    w_local = W.partitionBy("_pid", *group_cols).orderBy(*sort_cols)
    if weight is None:
        local_val, part_val = F.row_number().over(w_local), F.count(F.lit(1))
    else:
        v = F.col(weight).cast("bigint")
        local_val, part_val = F.sum(v).over(w_local), F.sum(v)
    local = ranged.withColumn("_loc", local_val)
    parts = local.groupBy("_pid", *group_cols).agg(part_val.alias("_ptot"))
    folded = parts.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(
            F.struct(F.col("_pid").alias("pid"), F.col("_ptot").alias("n"))
        )).alias("_parts")
    )

    def same_group(a: str, b: str) -> list[Column]:
        return [_col(a, g).eqNullSafe(_col(b, g)) for g in group_cols]

    if group_cols:
        joined = parts.alias("p").join(
            F.broadcast(folded.alias("f")), same_group("p", "f"))
    else:
        joined = parts.alias("p").crossJoin(F.broadcast(folded))
    offs = joined.select(
        *(_col("p", g) for g in group_cols),
        "_pid",
        F.aggregate(
            F.filter("_parts", lambda p: p["pid"] < F.col("_pid")),
            F.lit(0).cast("bigint"),
            lambda acc, p: acc + p["n"],
        ).alias("_off"),
        F.aggregate(
            "_parts", F.lit(0).cast("bigint"), lambda acc, p: acc + p["n"]
        ).alias("_tot"),
    )
    rest = [c for c in df.columns if c not in group_cols]
    return local.alias("l").join(
        F.broadcast(offs.alias("o")),
        [*same_group("l", "o"), _col("l", "_pid") == _col("o", "_pid")],
    ).select(
        *(_col("l", c) for c in [*group_cols, *rest]),
        (_col("l", "_loc").cast("bigint") + F.col("_off")).alias(out_col),
        F.col("_tot").alias(total_col),
    )


def global_rank(
    df: DataFrame, sort_cols: list[str],
    rank_col: str = "global_rank", total_col: str = "n_total",
) -> DataFrame:
    """Dense global 1-based rank over ``sort_cols`` (a total order),
    plus ``total_col`` = the row count, for ntile-style arithmetic.
    Two-phase: see :func:`_two_phase`."""
    return _two_phase(df, [], sort_cols, None, rank_col, total_col)


def global_prefix_sum(
    df: DataFrame, sort_cols: list[str], val_col: str,
    cum_col: str = "cum_sum", total_col: str = "sum_total",
) -> DataFrame:
    """Inclusive running BIGINT sum of ``val_col`` over the global order
    ``sort_cols`` (a total order), plus ``total_col`` = the grand total
    — the prefix SUM that weighted quantiles, CDFs and cumulative shares
    need where :func:`global_rank` gives a prefix COUNT. Callers whose
    values can overflow int64 at target scale should pre-scale."""
    return _two_phase(df, [], sort_cols, val_col, cum_col, total_col)


def grouped_rank(
    df: DataFrame, group_cols: list[str], sort_cols: list[str],
    rank_col: str = "group_rank", total_col: str = "n_in_group",
) -> DataFrame:
    """Per-group 1-based rank over ``sort_cols`` (a total order within
    each group; NULL is a group like any other), plus ``total_col`` =
    the group's row count. Unlike ``Window.partitionBy(group)``, a large
    group is spread over several tasks instead of one straggler."""
    return _two_phase(df, group_cols, sort_cols, None, rank_col, total_col)
