"""The ranked r11 REOPENING.md batch — staged in r10, REGISTERED in r11.

The r10 reopening registered its eight staged queries (349 -> 357) and
REOPENING.md's bounded-cadence policy caps registration at ~10 new
queries per round so continuity anchors keep cycling through the graded
window. This module staged the ranked r11 REOPENING.md batch through
round 10 exactly the way ``staged_r10.py`` staged the r10 batch: fully
implemented to house standard (DuckDB oracle SQL, integer micro-unit
quantization, scale-shape docstrings) but unregistered, with
``tests/test_staged_r11.py`` pinning the 357 cadence guard. The r11
flip (VERDICT r10 #1) made the registration loop at the bottom live:
357 -> 366, and the guard test now pins the nine names as registered.

The reference has none of these (``Data_transform.py`` passim); they
extend the warehouse/graph/geo/ML-eval surface per REOPENING.md's r11
ranking. Siblings: ``q_incremental_agg`` / ``q_semi_additive_agg``
(rollup mergeability), ``q_bucketed_join`` / ``q_salted_join`` (join
strategy probes), ``q_pagerank`` / ``q_dedup_clusters`` (iterative
graph), ``q_grouped_ols`` / ``q_kfold_cv`` (closed-form ML eval),
``q_geohash_encode`` / ``q_geo_knn_join`` (derived-coordinate geo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from spark_ml_spark.api import _resolve_partitions, global_rank, iterate
from spark_ml_spark.io.sources import load
from spark_ml_spark.operators.geo import _with_coords, _coord_exprs_sql
from spark_ml_spark.operators.graph_metrics import _EDGES_SQL, _part_edges_sym
from spark_ml_spark.operators.sketches import _hex_int_sql

#: one day in microseconds — the hourly->daily rollup bucket arithmetic
#: (pure integer DIV so both engines bucket identically)
_DAY_US = 86_400_000_000

#: BFS frontier-expansion depth — fixed so the oracle unrolls/caps the
#: same number of levels
_BFS_K = 3
#: seed rule: every part key divisible by _BFS_SEED_MOD that appears in
#: the co-order graph (pure row-key predicate, no extra table)
_BFS_SEED_MOD = 97

# --------------------------------------------------------------------
# REOPENING r11 #1: hierarchical re-aggregation audit
# --------------------------------------------------------------------

def q_rollup_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical re-aggregation audit (REOPENING r11 #1) — the
    continuous-aggregate / materialized-rollup contract: hourly
    aggregates of ``events`` (count / sum / min / max in integer
    micro-units) roll up to daily, and each daily row is emitted with
    ``invariant_ok`` = (rolled-from-hourly == computed-from-raw) across
    all four measures. A driver hash match proves the mergeability
    contract that makes map-side partial aggregation and tiered rollup
    tables sound at 100 TB — if any measure were not associatively
    mergeable (the way ``avg`` naively isn't), the flag flips and the
    hash diverges.

    Scale shape: two map-side-combinable aggregates (the second over
    the already-tiny hourly table) plus one raw daily aggregate that
    shares the first scan; the reconciliation join keys on
    (event_type, day) — broadcast-sized at any corpus scale since both
    sides are day-granular. Day buckets derive from hour buckets by
    pure integer DIV, so no second date_trunc can disagree."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
        F.floor(F.col("value") * 1_000_000.0 + F.lit(0.5))
        .cast("bigint").alias("v_us"),
    )
    hourly = ev.groupBy("event_type", "hour_us").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v_us").cast("bigint").alias("sv"),
        F.min("v_us").alias("mn"),
        F.max("v_us").alias("mx"),
    )
    rolled = hourly.select(
        "event_type",
        F.expr(f"(hour_us div {_DAY_US}) * {_DAY_US}").alias("day_us"),
        "n", "sv", "mn", "mx",
    ).groupBy("event_type", "day_us").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sv").cast("bigint").alias("sum_v_us"),
        F.min("mn").alias("min_v_us"),
        F.max("mx").alias("max_v_us"),
    )
    raw = ev.select(
        "event_type",
        F.expr(f"(hour_us div {_DAY_US}) * {_DAY_US}").alias("day_us"),
        "v_us",
    ).groupBy("event_type", "day_us").agg(
        F.count(F.lit(1)).cast("bigint").alias("r_n"),
        F.sum("v_us").cast("bigint").alias("r_sv"),
        F.min("v_us").alias("r_mn"),
        F.max("v_us").alias("r_mx"),
    )
    ok = (
        (F.col("n_events") == F.col("r_n"))
        & (F.col("sum_v_us") == F.col("r_sv"))
        & (F.col("min_v_us") == F.col("r_mn"))
        & (F.col("max_v_us") == F.col("r_mx"))
    )
    return (
        rolled.join(raw, ["event_type", "day_us"])
        .select(
            "event_type", "day_us", "n_events", "sum_v_us",
            "min_v_us", "max_v_us", ok.alias("invariant_ok"),
        )
        .orderBy("event_type", "day_us")
    )


ORACLE_ROLLUP_INVARIANCE = rf"""
WITH ev AS (
  SELECT event_type,
         epoch_us(date_trunc('hour', ts)) AS hour_us,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_us
  FROM events
),
hourly AS (
  SELECT event_type, hour_us,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(v_us) AS BIGINT) AS sv,
         min(v_us) AS mn, max(v_us) AS mx
  FROM ev GROUP BY event_type, hour_us
),
rolled AS (
  SELECT event_type, (hour_us // {_DAY_US}) * {_DAY_US} AS day_us,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(sum(sv) AS BIGINT) AS sum_v_us,
         min(mn) AS min_v_us, max(mx) AS max_v_us
  FROM hourly GROUP BY event_type, day_us
),
raw AS (
  SELECT event_type, (hour_us // {_DAY_US}) * {_DAY_US} AS day_us,
         CAST(count(*) AS BIGINT) AS r_n, CAST(sum(v_us) AS BIGINT) AS r_sv,
         min(v_us) AS r_mn, max(v_us) AS r_mx
  FROM ev GROUP BY event_type, day_us
)
SELECT r.event_type, r.day_us, r.n_events, r.sum_v_us,
       r.min_v_us, r.max_v_us,
       (r.n_events = w.r_n AND r.sum_v_us = w.r_sv
        AND r.min_v_us = w.r_mn AND r.max_v_us = w.r_mx) AS invariant_ok
FROM rolled r JOIN raw w
  ON r.event_type = w.event_type AND r.day_us = w.day_us
ORDER BY r.event_type, r.day_us
"""


# --------------------------------------------------------------------
# REOPENING r11 #2: broadcast-free big-dim join probe
# --------------------------------------------------------------------

def q_shuffle_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-free big-dim join probe (REOPENING r11 #2, VERDICT r9
    #3 suggestion): lineitem ⋈ part with an explicit ``SHUFFLE_HASH``
    hint on the dimension side, aggregated per brand in exact cents.
    At 100 TB the part dimension outgrows the broadcast threshold, and
    the default sort-merge join pays two full sorts that a shuffled
    hash join skips when one side's per-partition slice fits in memory
    — this query IS that middle strategy, and
    ``tests/test_staged_r11.py`` pins the physical plan to
    ShuffledHashJoin (not broadcast, not sort-merge), because the hint
    takes precedence over the auto-broadcast threshold that would
    otherwise kick in at fixture scale.

    Scale shape: one hash-partitioned exchange per side on the join
    key, NO sort on either side, then a map-side-combined per-brand
    aggregate over the join output. Revenue accumulates in exact
    integer cents (extendedprice is cents-exact in the fixtures)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("bigint").alias("cents"),
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(
        pt.hint("shuffle_hash"), li.l_partkey == pt.p_partkey
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("p_brand")
    )


ORACLE_SHUFFLE_HASH_JOIN = r"""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


# --------------------------------------------------------------------
# REOPENING r11 #3: multi-source BFS levels
# --------------------------------------------------------------------

def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS levels (REOPENING r11 #3) over the co-order
    part graph (``graph_metrics._part_edges_sym`` — parts are nodes, an
    edge joins two parts that share an order): seed set = every node
    whose key divides by ``_BFS_SEED_MOD`` (97), frontier expansion
    for ``_BFS_K`` (3) fixed levels, emitting each reached node's
    minimum distance. The Pregel step expressed as DataFrame joins:
    level k = (frontier ⋈ edges) minus visited, deduplicated — true
    BFS, each node expanded exactly once.

    Scale shape: the edge list is built with ONE shuffle (see
    ``_part_edges_sym``'s fused in-row double-orientation pair
    generation), hash-partitioned on ``src``, the join key. The
    ``_BFS_K`` rounds run on :func:`api.iterate`, which pins the edges
    for the loop and checkpoints every round, so the rounds run while
    the DataFrame is built and the returned plan reads only the last
    checkpoint. The state is the id-only visited set ``(node, level)``;
    round k's frontier is its ``level == k - 1`` slice, joined against
    the pinned edges in place, then anti-joined against the visited
    set. The oracle's recursive CTE uses UNION (distinct) so its
    per-level working set stays node-bounded rather than path-counted.

    Cites ``Data_transform.py`` passim (no graph surface in the
    reference)."""
    npart = _resolve_partitions(load(spark, sf_dir, "lineitem"))
    edges = _part_edges_sym(spark, sf_dir, npart)
    visited = (
        edges.select(F.col("src").alias("node")).distinct()
        .where(F.col("node") % _BFS_SEED_MOD == 0)
        .select("node", F.lit(0).cast("bigint").alias("level"))
    )

    def expand(visited: DataFrame, k: int) -> DataFrame:
        frontier = visited.where(F.col("level") == k - 1).select("node")
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(k).cast("bigint").alias("level"))
        )
        return visited.union(nxt)

    return iterate(edges, visited, expand, rounds=_BFS_K).orderBy("node")


ORACLE_BFS_LEVELS = rf"""
WITH RECURSIVE e AS ({_EDGES_SQL}),
sym AS (
  SELECT a AS src, b AS dst FROM e
  UNION ALL
  SELECT b AS src, a AS dst FROM e
),
seeds AS (
  SELECT DISTINCT src AS node FROM sym WHERE src % {_BFS_SEED_MOD} = 0
),
walk(node, level) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT s.dst, w.level + 1
  FROM walk w JOIN sym s ON w.node = s.src
  WHERE w.level < {_BFS_K}
)
SELECT node, CAST(min(level) AS BIGINT) AS level
FROM walk GROUP BY node
ORDER BY node
"""


# --------------------------------------------------------------------
# REOPENING r11 #5: ray-casting point-in-polygon containment
# --------------------------------------------------------------------

#: polygon dimension (e4 fixed-point degrees, x = lon_e4, y = lat_e4):
#: a triangle, a square, a concave notched rectangle, and a small
#: diamond — vertices chosen so each captures a distinct share of the
#: uniform synthetic coordinate domain. Simple (non-self-intersecting)
#: polygons; the crossing-number parity below is exact for them.
_POLYGONS: dict[int, list[tuple[int, int]]] = {
    1: [(-1500000, -800000), (0, 850000), (1500000, -800000)],
    2: [(-900000, -450000), (900000, -450000),
        (900000, 450000), (-900000, 450000)],
    3: [(-1600000, -700000), (0, -100000), (1600000, -700000),
        (1600000, 700000), (-1600000, 700000)],
    4: [(300000, 0), (600000, 300000), (900000, 0), (600000, -300000)],
}


def _pip_crossing_terms(pid: int) -> list[str]:
    """One integer crossing-parity CASE term per polygon edge —
    IDENTICAL text on both engines (generated once from the constant
    table), so the arithmetic cannot diverge. A horizontal ray from
    (px, py) crosses edge (ax,ay)-(bx,by) iff the edge straddles py
    half-open (ay > py) != (by > py) and the intersection x exceeds px
    — cross-multiplied into exact bigint products (no division)."""
    verts = _POLYGONS[pid]
    terms = []
    for (ax, ay), (bx, by) in zip(verts, verts[1:] + verts[:1]):
        straddle = f"((({ay} > py)) <> (({by} > py)))"
        lhs = f"(px - {ax}) * ({by} - {ay})"
        rhs = f"(py - {ay}) * ({bx} - {ax})"
        cmp_ = f"{lhs} < {rhs}" if by > ay else f"{lhs} > {rhs}"
        terms.append(
            f"(CASE WHEN {straddle} AND ({cmp_}) THEN 1 ELSE 0 END)"
        )
    return terms


def _pip_inside_expr(pid: int) -> str:
    """Crossing-number parity for polygon ``pid`` as one unrolled
    integer expression over columns px/py."""
    return "((" + " + ".join(_pip_crossing_terms(pid)) + ") % 2 = 1)"


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ray-casting point-in-polygon containment (REOPENING r11 #5):
    customer sites (the house md5-derived fixed-point coordinates,
    ``geo._with_coords`` with an independent prefix) tested against a
    four-polygon dimension by crossing-number parity, emitting per
    polygon the contained-site count and ppm share. The parity test is
    generated ONCE from the constant vertex table as unrolled integer
    CASE arithmetic (cross-multiplied, no division, bigint-exact) and
    the oracle runs the character-identical expression — the formula
    is the portability, since DuckDB ships no spatial extension here.

    Scale shape: the polygon dimension is compiled INTO the row
    expression (the degenerate broadcast), so containment is one
    narrow whole-stage-codegen scan with a 4-column map-side count
    aggregate — zero shuffles of the fact table, output bounded by
    |polygons|. At production polygon-dimension sizes the same shape
    becomes an explode + broadcast join on the edge table; the
    unrolled form is the |polygons|·|edges| ≤ ~100 special case."""
    pts = _with_coords(
        load(spark, sf_dir, "customer"), "c_custkey", "pip"
    ).select(
        F.col("lon_e4").alias("px"), F.col("lat_e4").alias("py")
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_total")]
    for pid in sorted(_POLYGONS):
        aggs.append(
            F.sum(F.expr(_pip_inside_expr(pid)).cast("bigint"))
            .cast("bigint").alias(f"in_{pid}")
        )
    one = pts.agg(*aggs)
    rows = one.select(
        "n_total",
        F.explode(F.array(*[
            F.struct(
                F.lit(pid).cast("bigint").alias("polygon_id"),
                F.col(f"in_{pid}").alias("n_inside"),
            )
            for pid in sorted(_POLYGONS)
        ])).alias("s"),
    )
    return rows.select(
        F.col("s.polygon_id").alias("polygon_id"),
        F.col("s.n_inside").alias("n_inside"),
        "n_total",
        F.expr("(1000000 * s.n_inside) div n_total").cast("bigint")
        .alias("share_ppm"),
    ).orderBy("polygon_id")


def _oracle_point_in_polygon() -> str:
    sites = _coord_exprs_sql("c_custkey", "pip")
    branches = "\nUNION ALL\n".join(
        f"SELECT CAST({pid} AS BIGINT) AS polygon_id,"
        f" CAST(sum(CASE WHEN {_pip_inside_expr(pid)} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_inside,"
        f" CAST(count(*) AS BIGINT) AS n_total"
        f" FROM pts"
        for pid in sorted(_POLYGONS)
    )
    return f"""
WITH sites AS ({sites} FROM customer),
pts AS (SELECT lon_e4 AS px, lat_e4 AS py FROM sites),
per AS ({branches})
SELECT polygon_id, n_inside, n_total,
       (1000000 * n_inside) // n_total AS share_ppm
FROM per
ORDER BY polygon_id
"""


ORACLE_POINT_IN_POLYGON = _oracle_point_in_polygon()


# --------------------------------------------------------------------
# REOPENING r11 #6: maximal-marginal-relevance diversified re-rank
# --------------------------------------------------------------------

#: MMR parameters: candidate pool size, selections, and lambda=0.7
#: scaled to integers (score*10 = 7*rel_micro - 3*maxsim_micro) so the
#: greedy argmax is exact integer arithmetic in both engines
_MMR_N = 24
_MMR_K = 8

#: dot product of two unit-normalized double arrays, quantized to micro
#: ints — Spark HOF text (columns/lambda vars substituted by caller)
def _mmr_cos_micro_spark(a: str, b: str) -> str:
    return (
        f"cast(floor(aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (p, q) -> p + q) * 1000000.0 + 0.5) "
        f"as bigint)"
    )


def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank (REOPENING r11 #6): the top
    ``_MMR_N`` (24) cosine candidates of query vector vec_id=0 (the
    ``q_cosine_topk`` shape) re-ranked by ``_MMR_K`` (8) greedy MMR
    steps — each step selects argmax of 7*relevance −
    3*max-similarity-to-selected (λ=0.7 in tenths), ties to the
    smallest vec_id. Greedy selection is inherently sequential, so
    after the DISTRIBUTED candidate generation (scan +
    TakeOrderedAndProject) the 24-row pool folds into one row and the
    whole greedy loop runs as a single Catalyst ``aggregate`` over
    ``sequence(1,8)`` — JVM higher-order functions, no driver loop, no
    collect, no lineage growth. All similarities are dots of
    unit-normalized double vectors quantized to micro ints, so the
    oracle's recursive CTE reproduces the greedy choice EXACTLY (same
    integers, same tie-break).

    Scale shape: one distributed scan + top-24 (the only data-sized
    stage), then O(k·n²·dim) arithmetic on ONE row — constant work
    regardless of corpus size. The argmax-by-struct trick (max of
    struct(score, -vec_id)) keeps the tie-break inside the fold."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(x as double))"
        ).alias("e"),
    ).select(
        "vec_id",
        F.expr(
            "transform(e, x -> x / sqrt(aggregate("
            "transform(e, v -> v * v), cast(0.0 as double), "
            "(p, q) -> p + q)))"
        ).alias("u"),
    )
    qv = emb.where(F.col("vec_id") == 0).select(F.col("u").alias("qu"))
    rel = F.expr(_mmr_cos_micro_spark("u", "qu")).alias("rel")
    cand = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", rel, "u")
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_N)
    )
    pool = cand.agg(
        F.collect_list(F.struct("vec_id", "rel", "u")).alias("cands")
    )
    sim = _mmr_cos_micro_spark("c.u", "s.u")
    fold = f"""
aggregate(
  sequence(1, {_MMR_K}),
  cast(array() as array<bigint>),
  (acc, step) -> array_append(acc,
    -array_max(transform(
       filter(cands, c -> NOT array_contains(acc, c.vec_id)),
       c -> struct(
         7 * c.rel - 3 * coalesce(array_max(transform(
               filter(cands, s -> array_contains(acc, s.vec_id)),
               s -> {sim})), cast(0 as bigint)) AS score,
         -c.vec_id AS negid)
    )).negid)
)"""
    picked = pool.select(
        "cands", F.posexplode(F.expr(fold)).alias("pos", "vec_id")
    )
    return picked.select(
        (F.col("pos") + 1).cast("bigint").alias("step"),
        "vec_id",
        F.expr(
            "filter(cands, c -> c.vec_id = vec_id)[0].rel"
        ).alias("rel_micro"),
    ).orderBy("step")


#: DuckDB twin of _mmr_cos_micro_spark over list columns
def _mmr_cos_micro_duck(a: str, b: str) -> str:
    return (
        f"CAST(floor(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> p[1] * p[2])) * 1000000.0 + 0.5) AS BIGINT)"
    )


ORACLE_MMR_DIVERSIFY = rf"""
WITH RECURSIVE unit AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)
           / sqrt(list_sum(list_transform(embedding,
               v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS u
  FROM embeddings
),
qv AS (SELECT u AS qu FROM unit WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id, {_mmr_cos_micro_duck("e.u", "q.qu")} AS rel, e.u
  FROM unit e, qv q WHERE e.vec_id <> 0
  ORDER BY rel DESC, e.vec_id LIMIT {_MMR_N}
),
pair AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         {_mmr_cos_micro_duck("a.u", "b.u")} AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
sel(step, ids) AS (
  SELECT 0, CAST([] AS BIGINT[])
  UNION ALL
  SELECT step + 1, list_append(ids, (
    SELECT c.vec_id FROM cand c
    WHERE NOT list_contains(ids, c.vec_id)
    ORDER BY 7 * c.rel - 3 * coalesce((
        SELECT max(p.sim) FROM pair p
        WHERE p.ia = c.vec_id AND list_contains(ids, p.ib)
      ), 0) DESC, c.vec_id
    LIMIT 1))
  FROM sel WHERE step < {_MMR_K}
)
SELECT CAST(t.step AS BIGINT) AS step, t.vec_id,
       (SELECT c.rel FROM cand c WHERE c.vec_id = t.vec_id) AS rel_micro
FROM (
  SELECT unnest(ids) AS vec_id,
         unnest(range(1, len(ids) + 1)) AS step
  FROM sel WHERE step = {_MMR_K}
) t
ORDER BY t.step
"""


# --------------------------------------------------------------------
# REOPENING r11 #7: update-mode watermark emission audit (rows-only)
# --------------------------------------------------------------------

def q_stream_update_mode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update-mode watermark emission audit (REOPENING r11 #7,
    rows-only BY DESIGN — emission multiplicity is engine-specific
    micro-batch behavior no batch SQL can reproduce): the SAME
    engineered-disorder replay as ``q_stream_watermark_audit``
    (``staged_r10._disorder_replay_stream`` — shared layout cache),
    but the hourly watermarked aggregate emits in UPDATE mode, so each
    window surfaces once per micro-batch that changes it. The audit
    groups the sink rows per window: emission count (1..3 — bounded by
    the batch count), the final emitted value (the max — counts only
    grow within a window), the exact batch count, and ``complete``
    (final == exact; FALSE exactly where the watermark dropped the
    late oldest-third rows).

    Invariants pinned in ``tests/test_staged_r11.py``: emissions per
    window bounded by the batch count, final ≤ exact everywhere, at
    least one late-dropped window, on-time windows complete — and
    update mode must emit at least as many window-rows as append mode
    finalizes.

    Scale shape: identical to the append-mode sibling — watermark-
    bounded aggregate state, per-hour audit join; the sink-side
    multiplicity group-by is hour-granular."""
    from spark_ml_spark.operators.staged_r10 import _disorder_replay_stream
    from spark_ml_spark.streaming.stream_queries import _drain

    stream = _disorder_replay_stream(spark, sf_dir)
    emitted = _drain(
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        "update",
    ).select(F.unix_micros(F.col("w.start")).alias("hour_us"), "n")
    per_window = emitted.groupBy("hour_us").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_emissions"),
        F.max("n").alias("n_final"),
    )
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.unix_micros(F.window("ts", "1 hour").start).alias("hour_us")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    return (
        exact.join(per_window, "hour_us", "left")
        .select(
            "hour_us",
            F.coalesce("n_emissions", F.lit(0)).cast("bigint")
            .alias("n_emissions"),
            F.coalesce("n_final", F.lit(0)).cast("bigint")
            .alias("n_final"),
            "n_exact",
            (F.coalesce("n_final", F.lit(0)) == F.col("n_exact"))
            .alias("complete"),
        )
        .orderBy("hour_us")
    )


# --------------------------------------------------------------------
# REOPENING r11 #8: bitemporal as-of query
# --------------------------------------------------------------------

#: synthetic transaction-time delay: md5-derived 0..72h (whole seconds,
#: micro units) after the valid time — deterministic, engine-portable
_BT_DELAY_MOD = 259_200

#: DuckDB integer value of md5('tx' || orderkey) hex chars 1-8 — the
#: same strpos arithmetic as the geo/sketch gates (DuckDB has no conv)
_hex_int_sql_bt = _hex_int_sql(
    "md5('tx' || CAST(o_orderkey AS VARCHAR))", 1, 8
)


def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of query (REOPENING r11 #8): "each customer's
    latest order state as of valid time V, as KNOWN at transaction
    time T" — the two-axis generalization of ``q_point_in_time_join``.
    Valid time is the order date; transaction time adds a
    deterministic md5-derived ingestion delay (0..72h), modeling the
    record landing in the warehouse after the fact. The cutpoints are
    exact order statistics of the data itself (V = the 60th-percentile
    valid instant, T = the 80th-percentile transaction instant, both
    by the (value, key) total order), so the query is self-contained
    on regenerated fixtures; eligibility is valid ≤ V AND tx ≤ T, and
    the per-customer winner is the (valid, tx, key)-max row.

    Scale shape: two `api.global_rank` range-partition sorts compute
    the cutpoints (no single-partition window), broadcast as 1-row
    scalars; the winner selection is one per-customer-partitioned
    window — the natural key partitioning, same as SCD-2."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.unix_micros("o_orderdate").alias("valid_us"),
    ).withColumn(
        "tx_us",
        F.col("valid_us")
        + (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tx"),
                                   F.col("o_orderkey").cast("string"))),
                    1, 8,
                ), 16, 10,
            ).cast("bigint") % _BT_DELAY_MOD
        ) * F.lit(1_000_000),
    )
    # the trailing ungrouped min() makes the <=1-row property of each
    # broadcast side STRUCTURAL (Aggregate(keys=[]) in the plan) rather
    # than an invariant of the rank filter — the repo-wide BNLJ plan
    # gate (tests/test_plans.py) verifies tiny build sides by shape,
    # and the rank-filter shape alone is not provably bounded
    v_cut = global_rank(
        o.select(F.col("valid_us").alias("v"), "o_orderkey"),
        ["v", "o_orderkey"],
    ).where(
        F.col("global_rank") == F.expr("(6 * n_total) div 10 + 1")
    ).agg(F.min("v").alias("v_cut"))
    t_cut = global_rank(
        o.select(F.col("tx_us").alias("t"), "o_orderkey"),
        ["t", "o_orderkey"],
    ).where(
        F.col("global_rank") == F.expr("(8 * n_total) div 10 + 1")
    ).agg(F.min("t").alias("t_cut"))
    elig = (
        o.crossJoin(F.broadcast(v_cut))
        .crossJoin(F.broadcast(t_cut))
        .where((F.col("valid_us") <= F.col("v_cut"))
               & (F.col("tx_us") <= F.col("t_cut")))
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.col("valid_us").desc(), F.col("tx_us").desc(),
        F.col("o_orderkey").desc(),
    )
    return (
        elig.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "valid_us", "tx_us")
        .orderBy("o_custkey")
    )


ORACLE_BITEMPORAL_ASOF = rf"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         epoch_us(o_orderdate) AS valid_us,
         epoch_us(o_orderdate)
           + ({_hex_int_sql_bt} % {_BT_DELAY_MOD}) * 1000000 AS tx_us
  FROM orders
),
vc AS (
  SELECT valid_us AS v_cut FROM o
  QUALIFY row_number() OVER (ORDER BY valid_us, o_orderkey)
          = (6 * (SELECT count(*) FROM o)) // 10 + 1
),
tc AS (
  SELECT tx_us AS t_cut FROM o
  QUALIFY row_number() OVER (ORDER BY tx_us, o_orderkey)
          = (8 * (SELECT count(*) FROM o)) // 10 + 1
)
SELECT o.o_custkey, o.o_orderkey, o.valid_us, o.tx_us
FROM o, vc, tc
WHERE o.valid_us <= vc.v_cut AND o.tx_us <= tc.t_cut
QUALIFY row_number() OVER (
  PARTITION BY o.o_custkey
  ORDER BY o.valid_us DESC, o.tx_us DESC, o.o_orderkey DESC) = 1
ORDER BY o.o_custkey
"""


# --------------------------------------------------------------------
# REOPENING r11 #9: incremental-view-maintenance delta-apply audit
# --------------------------------------------------------------------

def q_rollup_delta_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance audit (REOPENING r11 #9): a
    deterministic delta batch — every 10th event_id PLUS the entire
    final day of the time range — applies to a materialized daily
    rollup of the remaining events via merge arithmetic (count/sum
    addition, null-skipping least/greatest on a full-outer join), and
    each merged row is emitted with ``invariant_ok`` = (merged ==
    recomputed-from-everything). The delta shape exercises BOTH merge
    paths: existing keys absorb a 10% increment, and the final-day
    keys exist ONLY in the delta (the insertion path a MERGE must get
    right). This is the contract that makes nightly rollup
    maintenance O(delta), not O(history), at 100 TB.

    Scale shape: three day-granular aggregates (base, delta, recompute
    — each map-side combined; base and delta partition one scan by a
    row-local predicate) plus one full-outer join and one
    reconciliation join, both on the day-granular key space — bounded
    by |event_type|·|days| regardless of corpus size. The final-day
    cut is a 1-row max broadcast. Both engines' least/greatest skip
    NULLs, so the outer-join merge needs no CASE ladder."""
    ev0 = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        F.floor(F.col("value") * 1_000_000.0 + F.lit(0.5))
        .cast("bigint").alias("v_us"),
        "event_id",
    )
    last_day = ev0.agg(F.max("day_us").alias("last_day_us"))
    ev = ev0.crossJoin(F.broadcast(last_day))
    is_delta = (F.col("event_id") % 10 == 0) | (
        F.col("day_us") == F.col("last_day_us")
    )

    def roll(df, p):
        return df.groupBy("event_type", "day_us").agg(
            F.count(F.lit(1)).cast("bigint").alias(f"{p}n"),
            F.sum("v_us").cast("bigint").alias(f"{p}sv"),
            F.min("v_us").alias(f"{p}mn"),
            F.max("v_us").alias(f"{p}mx"),
        )

    base = roll(ev.where(~is_delta), "b_")
    delta = roll(ev.where(is_delta), "d_")
    merged = base.join(delta, ["event_type", "day_us"], "full_outer").select(
        "event_type", "day_us",
        (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .cast("bigint").alias("n_events"),
        (F.coalesce("b_sv", F.lit(0)) + F.coalesce("d_sv", F.lit(0)))
        .cast("bigint").alias("sum_v_us"),
        F.least("b_mn", "d_mn").alias("min_v_us"),
        F.greatest("b_mx", "d_mx").alias("max_v_us"),
        F.coalesce("d_n", F.lit(0)).cast("bigint").alias("n_delta"),
    )
    recomputed = roll(ev, "r_")
    ok = (
        (F.col("n_events") == F.col("r_n"))
        & (F.col("sum_v_us") == F.col("r_sv"))
        & (F.col("min_v_us") == F.col("r_mn"))
        & (F.col("max_v_us") == F.col("r_mx"))
    )
    return (
        merged.join(recomputed, ["event_type", "day_us"])
        .select(
            "event_type", "day_us", "n_events", "sum_v_us",
            "min_v_us", "max_v_us", "n_delta", ok.alias("invariant_ok"),
        )
        .orderBy("event_type", "day_us")
    )


ORACLE_ROLLUP_DELTA_APPLY = rf"""
WITH ev AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) AS day_us,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_us,
         event_id,
         (SELECT max(epoch_us(date_trunc('day', ts))) FROM events)
           AS last_day_us
  FROM events
),
base AS (
  SELECT event_type, day_us,
         CAST(count(*) AS BIGINT) AS b_n, CAST(sum(v_us) AS BIGINT) AS b_sv,
         min(v_us) AS b_mn, max(v_us) AS b_mx
  FROM ev WHERE NOT (event_id % 10 = 0 OR day_us = last_day_us)
  GROUP BY event_type, day_us
),
delta AS (
  SELECT event_type, day_us,
         CAST(count(*) AS BIGINT) AS d_n, CAST(sum(v_us) AS BIGINT) AS d_sv,
         min(v_us) AS d_mn, max(v_us) AS d_mx
  FROM ev WHERE event_id % 10 = 0 OR day_us = last_day_us
  GROUP BY event_type, day_us
),
merged AS (
  SELECT coalesce(b.event_type, d.event_type) AS event_type,
         coalesce(b.day_us, d.day_us) AS day_us,
         CAST(coalesce(b.b_n, 0) + coalesce(d.d_n, 0) AS BIGINT)
           AS n_events,
         CAST(coalesce(b.b_sv, 0) + coalesce(d.d_sv, 0) AS BIGINT)
           AS sum_v_us,
         least(b.b_mn, d.d_mn) AS min_v_us,
         greatest(b.b_mx, d.d_mx) AS max_v_us,
         CAST(coalesce(d.d_n, 0) AS BIGINT) AS n_delta
  FROM base b FULL OUTER JOIN delta d
    ON b.event_type = d.event_type AND b.day_us = d.day_us
),
rec AS (
  SELECT event_type, day_us,
         CAST(count(*) AS BIGINT) AS r_n, CAST(sum(v_us) AS BIGINT) AS r_sv,
         min(v_us) AS r_mn, max(v_us) AS r_mx
  FROM ev GROUP BY event_type, day_us
)
SELECT m.event_type, m.day_us, m.n_events, m.sum_v_us,
       m.min_v_us, m.max_v_us, m.n_delta,
       (m.n_events = r.r_n AND m.sum_v_us = r.r_sv
        AND m.min_v_us = r.r_mn AND m.max_v_us = r.r_mx) AS invariant_ok
FROM merged m JOIN rec r
  ON m.event_type = r.event_type AND m.day_us = r.day_us
ORDER BY m.event_type, m.day_us
"""


# --------------------------------------------------------------------
# REOPENING r11 #10: ANN recall audit (rows-only by design)
# --------------------------------------------------------------------

#: recall@k parameters shared by the exact and approximate sides
_ANN_K = 10

def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall audit (REOPENING r11 #10, rows-only BY DESIGN — the
    approximate side depends on MLlib's BRP-LSH hash internals no SQL
    oracle can reproduce): recall@10 of the seeded
    BucketedRandomProjectionLSH ``approxNearestNeighbors`` against the
    exact euclidean top-10 for the standard query vector (vec_id=0) —
    THE quality number an ANN deployment measures on a held-out query
    set before trusting the approximate path at 100 TB. Emits one row:
    k, both hit counts, the overlap, and recall in ppm; the id sets
    travel as sorted arrays for inspection.

    The single ``.first()`` fetches the one-row query VECTOR because
    the MLlib kNN API takes a driver-side key (same sanctioned scalar
    fetch as the replay-bounds ``.first()`` in the watermark audits —
    not a data collect).

    Scale shape: the exact side is the ``q_cosine_topk`` shape
    (broadcast query, one scan, TakeOrderedAndProject); the
    approximate side probes hash buckets only. Invariants pinned in
    ``tests/test_staged_r11.py``: overlap ≤ k, recall in [0, 1e6],
    and the audit is deterministic under the fixed seed."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        array_to_vector(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("features"),
    ).cache()
    others = emb.where(F.col("vec_id") != 0)
    qrow = emb.where(F.col("vec_id") == 0).select("features").first()
    qvec = qrow["features"]

    qdf = emb.where(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = (
        others.crossJoin(F.broadcast(qdf))
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(e, qe, (x, y) -> (x - y) * (x - y)),"
                " cast(0.0 as double), (p, q) -> p + q)"
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(_ANN_K)
        .agg(F.sort_array(F.collect_list("vec_id")).alias("exact_ids"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=1.0,
        numHashTables=4, seed=42,
    )
    model = lsh.fit(others)
    approx = (
        model.approxNearestNeighbors(others, qvec, _ANN_K)
        .select("vec_id")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("approx_ids"))
    )
    return exact.crossJoin(approx).select(
        F.lit(_ANN_K).cast("bigint").alias("k"),
        F.size("exact_ids").cast("bigint").alias("n_exact"),
        F.size("approx_ids").cast("bigint").alias("n_approx"),
        F.size(F.array_intersect("exact_ids", "approx_ids"))
        .cast("bigint").alias("n_overlap"),
        F.expr(
            f"(1000000 * size(array_intersect(exact_ids, approx_ids)))"
            f" div {_ANN_K}"
        ).cast("bigint").alias("recall_ppm"),
        # id lists as comma-joined strings, NOT array columns: the
        # driver canonicalizes rows-only results through pandas, where
        # an array cell is unhashable and errs the grade (the
        # q_media_frames/CORRECTNESS_r02 lesson; caught by the r11
        # window pre-audit rehearsal)
        F.array_join(F.transform("exact_ids", lambda x: x.cast("string")),
                     ",").alias("exact_ids"),
        F.array_join(F.transform("approx_ids", lambda x: x.cast("string")),
                     ",").alias("approx_ids"),
    )


#: name -> (query fn, oracle SQL). r11 registration = append this module
#: to ``registry._OPERATOR_MODULES`` and apply::
#:
#:     for _n, (_fn, _sql) in STAGED.items():
#:         query(_n, _sql)(_fn)
#:
#: at the bottom of this module (NOT before the r10 grade lands — the
#: freeze-guard test pins that importing this module registers nothing).
STAGED = {
    "q_rollup_invariance": (q_rollup_invariance, ORACLE_ROLLUP_INVARIANCE),
    "q_shuffle_hash_join": (q_shuffle_hash_join, ORACLE_SHUFFLE_HASH_JOIN),
    "q_bfs_levels": (q_bfs_levels, ORACLE_BFS_LEVELS),
    "q_point_in_polygon": (q_point_in_polygon, ORACLE_POINT_IN_POLYGON),
    "q_mmr_diversify": (q_mmr_diversify, ORACLE_MMR_DIVERSIFY),
    # rows-only by design (micro-batch emission multiplicity) — r11
    # registers it WITHOUT oracle SQL, joining the documented cohort
    "q_stream_update_mode_audit": (q_stream_update_mode_audit, None),
    "q_bitemporal_asof": (q_bitemporal_asof, ORACLE_BITEMPORAL_ASOF),
    "q_rollup_delta_apply": (
        q_rollup_delta_apply, ORACLE_ROLLUP_DELTA_APPLY),
    # rows-only by design (MLlib BRP-LSH hash internals)
    "q_ann_recall_audit": (q_ann_recall_audit, None),
}

# r11 reopening registration (VERDICT r10 #1): 357 -> 366. Import-time,
# like every other operator module; the names join the never-graded
# backlog and therefore lead the rotated r11 window.
from spark_ml_spark.registry import query  # noqa: E402

for _n, (_fn, _sql) in STAGED.items():
    query(_n, _sql)(_fn)
