"""The ranked r13 REOPENING.md batch — the top seven, PROMOTED into the
r12 flip.

Drafted and implemented under the bounded-cadence policy (~10 new
registrations/round) exactly the way ``staged_r11.py`` staged the r11
wave: fully implemented to house standard (DuckDB oracle SQL, integer
micro-unit quantization, scale-shape docstrings) one round before
registration. The r12 flip registered the ``PROMOTED`` seven (the
staged r12 trio used only 3 of the ~10 budget; REOPENING.md r13
section planned this promotion).

Every candidate passed the three drafting vettings FIRST (REOPENING.md
r13 section): capability-overlap grep over the full registry, fixture
support, and environment support — pipe syntax, SQL scalar UDFs and
the Datasketches HLL functions were each executed against the pinned
PySpark 4.1.2 before any code was written.
(The drafting probe's merged==direct HLL estimate equality turned out
to hold only in dense array mode — staging at fixture scale replaced
it with the 5σ band on both paths; see ``q_hll_merge_rollup``.)

The reference has none of these (``Data_transform.py`` passim); they
extend the sketch/warehouse/text/graph/ML-prep/SQL-front-end surface
per REOPENING.md's r13 ranking. Siblings: ``q_hll_error_audit`` /
``q_approx_count_distinct`` (sketch contracts), ``q_bm25_rank`` /
``q_tfidf_topterms`` (term scoring), ``q_ess_weights`` (weight
diagnostics), ``q_hash_split`` (portable fold hash), ``q_bfs_levels``
(unweighted graph traversal), ``q_sql_pivot`` / ``q_sql_groupby_all``
(modern SQL surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_ml_spark.api import _resolve_partitions, iterate
from spark_ml_spark.io.sources import load

#: one day in microseconds (pure integer DIV bucketing on both engines)
_DAY_US = 86_400_000_000
#: seven-day rollup grain for the HLL mergeability audit
_WEEK_US = 7 * _DAY_US

#: Datasketches HLL lgConfigK: 2^12 registers. The published relative
#: standard deviation for HLL at k registers is ~1.04/sqrt(k) = 1.625%
#: here; the audit contract uses a 5-sigma band (ppm, integer compare)
#: for the same reason q_hll_error_audit does (ADVICE r9: rsd is a
#: standard deviation, not a guarantee — 3 sigma would flake on
#: regenerated fixtures).
_HLL_LGK = 12
_HLL_BOUND_PPM = 81_250  # floor(5 * 1.04 / sqrt(2^12) * 1e6)


# --------------------------------------------------------------------
# REOPENING r13 #1: mergeable-sketch-column rollup audit
# --------------------------------------------------------------------

def q_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch-column audit (REOPENING r13 #1) — the 100 TB
    pre-aggregated COUNT DISTINCT contract. Per-day Datasketches HLL
    sketches of ``events.user_id`` (``hll_sketch_agg``) are union-merged
    to weekly grain (``hll_union_agg``) and compared against (a) the
    direct whole-week sketch and (b) the exact weekly distinct count:

    * ``merged_in_bound`` — |estimate(union of daily sketches) −
      exact| within the 5σ ppm band of the published ~1.04/sqrt(2^lgK)
      rsd. This is the property that makes tiered distinct-count
      rollup tables sound at 100 TB: the persisted daily sketch
      column, re-aggregated to any coarser grain, must still meet the
      sketch's published error contract.
    * ``direct_in_bound`` — the same band for the direct whole-week
      sketch (the ``q_hll_error_audit`` contract shape; integer ppm
      compare, engine-portable).

    A strict estimate(merged) == estimate(direct) equality was the
    r13 draft's first contract and was REJECTED during staging: HLL
    union is register-wise max — estimate-lossless — only once both
    sides are in dense HLL array mode (the drafting vetting's 100k-id
    probe), but at sparse cardinalities DataSketches promotes the
    direct sketch and the union gadget along different coupon paths
    (measured at sf0.1: merged 1488 vs direct 1494 vs exact 1500), so
    the sound cross-engine contract is the published error band on
    BOTH paths, not path equality.

    The oracle computes the exact weekly distinct count and emits the
    TRUE contract columns, so a driver hash match proves both
    guarantees held — the sketch stays engine-side, the contract is
    checked (the pattern that converted the r10 sketch caveats).

    Scale shape: three aggregations over one events scan — the daily
    sketch build (map-side-combinable sketch agg keyed on ~30 days),
    the weekly union (input is the tiny daily-sketch table), and the
    exact count (one dedup shuffle, audit-side only: in production the
    exact branch doesn't exist — it's the audit's ruler). Output is
    week-granular (bounded). No UDFs; the sketch functions are JVM
    Datasketches builtins.

    Cites ``Data_transform.py`` passim (the reference has no sketch
    surface)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros("ts") - (F.unix_micros("ts") % _WEEK_US))
        .alias("week_us"),
        (F.unix_micros("ts") - (F.unix_micros("ts") % _DAY_US))
        .alias("day_us"),
    )
    daily = ev.groupBy("week_us", "day_us").agg(
        F.hll_sketch_agg("user_id", F.lit(_HLL_LGK)).alias("sk")
    )
    merged = daily.groupBy("week_us").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False)))
        .alias("est_merged"),
    )
    direct = ev.groupBy("week_us").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(_HLL_LGK))
        ).alias("est_direct"),
        F.count_distinct("user_id").cast("bigint").alias("exact_users"),
    )
    in_band = (
        lambda est: F.abs(F.col(est) - F.col("exact_users"))
        * F.lit(1_000_000)
        <= F.lit(_HLL_BOUND_PPM) * F.col("exact_users")
    )
    return (
        merged.join(direct, "week_us")
        .select(
            "week_us",
            "n_days",
            "exact_users",
            in_band("est_merged").alias("merged_in_bound"),
            in_band("est_direct").alias("direct_in_bound"),
        )
        .orderBy("week_us")
    )


ORACLE_HLL_MERGE_ROLLUP = rf"""
WITH ev AS (
  SELECT user_id,
         epoch_us(ts) - (epoch_us(ts) % {_WEEK_US}) AS week_us,
         epoch_us(ts) - (epoch_us(ts) % {_DAY_US})  AS day_us
  FROM events
)
SELECT week_us,
       CAST(count(DISTINCT day_us) AS BIGINT)  AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE  AS merged_in_bound,
       TRUE  AS direct_in_bound
FROM ev
GROUP BY week_us
ORDER BY week_us
"""


# --------------------------------------------------------------------
# REOPENING r13 #2: positional inverted-index phrase retrieval
# --------------------------------------------------------------------

def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index phrase search (REOPENING r13 #2): find
    every document containing the corpus's most frequent 3-token phrase
    as CONSECUTIVE tokens, with per-document (overlapping) occurrence
    counts — retrieval via position-offset equi-joins on a positional
    postings list, the inverted-index contract. The oracle answers the
    same question by brute-force positional scan over the token arrays,
    so a driver hash match proves index-based retrieval ≡ full scan.

    Phrase selection is data-derived (top trigram by count, ties broken
    lexicographically) so the query is fixture-regeneration-proof; the
    trigram census is one in-row ``transform`` over the token array
    (no explode-then-window), and the chosen phrase is a 1-row
    broadcast.

    Scale shape: postings = one tokenize pass + posexplode (map-only);
    each phrase term prunes the postings map-side against the broadcast
    1-row phrase (the selective-term property that makes phrase queries
    cheap on a 100 TB corpus), and the two position-offset joins
    shuffle only the pruned (doc_id, pos) streams on doc_id. The
    trigram census shuffles trigram keys once (map-side combined).
    Overlapping occurrences are counted by start position — identical
    semantics both engines (LIKE/replace counting would disagree on
    overlaps, so neither engine uses it).

    Cites ``Data_transform.py`` passim (no text-retrieval surface in
    the reference); sibling ``q_bm25_rank`` is bag-of-words term
    scoring — nothing else builds positional postings."""
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("ts"))
        .where(F.size("ts") >= 3)
    )
    tris = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 2),"
                    " i -> struct(element_at(ts, i) AS t1,"
                    "             element_at(ts, i + 1) AS t2,"
                    "             element_at(ts, i + 2) AS t3))"
                )
            ).alias("t")
        )
        .groupBy("t.t1", "t.t2", "t.t3")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = F.broadcast(
        tris.orderBy(F.desc("c"), "t1", "t2", "t3").limit(1)
        .select("t1", "t2", "t3")
    )
    postings = toks.selectExpr("doc_id", "posexplode(ts) AS (pos, term)")
    p1 = postings.join(top, postings.term == top.t1).select("doc_id", "pos")
    p2 = postings.join(top, postings.term == top.t2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    p3 = postings.join(top, postings.term == top.t3).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .join(p3, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
        .orderBy("doc_id")
    )


ORACLE_PHRASE_SEARCH = r"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
),
tri AS (
  SELECT ts[i] AS t1, ts[i + 1] AS t2, ts[i + 2] AS t3,
         count(*) AS c
  FROM tok, unnest(range(1, len(ts) - 1)) AS u(i)
  GROUP BY 1, 2, 3
),
top AS (SELECT t1, t2, t3 FROM tri ORDER BY c DESC, t1, t2, t3 LIMIT 1)
SELECT doc_id,
       CAST(len(list_filter(range(1, len(ts) - 1),
                            i -> ts[i] = t1 AND ts[i + 1] = t2
                                 AND ts[i + 2] = t3)) AS BIGINT) AS n_occ
FROM tok, top
WHERE len(list_filter(range(1, len(ts) - 1),
                      i -> ts[i] = t1 AND ts[i + 1] = t2
                           AND ts[i + 2] = t3)) > 0
ORDER BY doc_id
"""

# --------------------------------------------------------------------
# REOPENING r13 #3: iterative proportional fitting (survey raking)
# --------------------------------------------------------------------

#: fixed IPF iteration count (each iteration = one row phase + one
#: column phase), unrolled identically in the oracle
_IPF_ITERS = 3
#: weight quantum: weights live in integer MILLI-customers after every
#: phase, so both engines iterate identical integers (no float-sum
#: order hazard). Products stay under int64 at any tested SF
#: (w <= N*1000 and target <= N*1000 -> product <= (1.5e8)^2 at sf1);
#: the 100 TB path lifts the products to DECIMAL(38,0), same algebra.
_IPF_MILLI = 1_000


def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / iterative proportional fitting (REOPENING r13
    #3): calibrate per-cell weights over the (nation x market-segment)
    customer contingency table so the nation margin and the segment
    margin each match uniform target totals, ``_IPF_ITERS`` fixed
    alternating row/column phases. The targets are data-derived
    (total-milli div distinct-margin-count) so the query is
    fixture-proof; each phase rescales every cell by
    ``target * w / margin_sum`` in pure BIGINT (floor division), and
    weights are re-quantized to integer milli-units after every phase —
    the property that makes both engines iterate IDENTICAL integers,
    with no float accumulation-order divergence anywhere.

    Scale shape: the fact table aggregates ONCE to the bounded
    (R x S) cell table (map-side-combined count); all iterations touch
    cells only — window sums partitioned by the margin key over a
    ~125-row frame, zero further fact scans. This is the op a weighting
    pipeline runs after a 100 TB demographic count: the expensive part
    is the one aggregate, the calibration is free.

    Cites ``Data_transform.py`` passim (no weighting surface in the
    reference); sibling ``q_ess_weights`` measures a weight column —
    nothing else calibrates one."""
    cells = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .withColumn("w", F.col("n_customers") * _IPF_MILLI)
    )
    # data-derived uniform targets: total milli-weight split evenly
    # across each margin's distinct values (integer div; remainders are
    # fine — IPF runs a fixed K, convergence is not the contract)
    tot = cells.agg(
        F.sum("w").alias("t"),
        F.count_distinct("c_nationkey").alias("nr"),
        F.count_distinct("c_mktsegment").alias("ns"),
    ).select(
        # integer floor division to mirror the oracle's `//` exactly
        # (ADVICE r11: double division is exact only below 2^53 — at the
        # documented 100 TB scale sum(w) would exceed that and diverge)
        F.expr("t div nr").cast("bigint").alias("t_row"),
        F.expr("t div ns").cast("bigint").alias("t_col"),
    )
    w = cells.crossJoin(F.broadcast(tot))
    for _ in range(_IPF_ITERS):
        w = w.withColumn(
            "w", F.expr("(w * t_row) div sum(w) over "
                        "(partition by c_nationkey)")
        )
        w = w.withColumn(
            "w", F.expr("(w * t_col) div sum(w) over "
                        "(partition by c_mktsegment)")
        )
    return w.select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        "c_mktsegment",
        "n_customers",
        F.col("w").alias("w_milli"),
    ).orderBy("nationkey", "c_mktsegment")


def _ipf_phase(prev: str, margin: str, target: str) -> str:
    """One unrolled IPF phase as an oracle CTE body: rescale ``prev``'s
    weights so ``margin``'s sums hit ``target`` (BIGINT floor div)."""
    return (
        f"SELECT c_nationkey, c_mktsegment, n_customers, t_row, t_col,"
        f" (w * {target}) // (sum(w) OVER (PARTITION BY {margin})) AS w"
        f" FROM {prev}"
    )


def _ipf_oracle() -> str:
    phases = []
    prev = "w0"
    for i in range(_IPF_ITERS):
        phases.append(
            f"r{i} AS ({_ipf_phase(prev, 'c_nationkey', 't_row')})")
        phases.append(
            f"c{i} AS ({_ipf_phase(f'r{i}', 'c_mktsegment', 't_col')})")
        prev = f"c{i}"
    body = ",\n".join(phases)
    return rf"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(count(*) AS BIGINT) * {_IPF_MILLI} AS w
  FROM customer GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(w) // count(DISTINCT c_nationkey) AS BIGINT)  AS t_row,
         CAST(sum(w) // count(DISTINCT c_mktsegment) AS BIGINT) AS t_col
  FROM cells
),
w0 AS (SELECT c.*, t.t_row, t.t_col FROM cells c, tot t),
{body}
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       c_mktsegment,
       n_customers,
       CAST(w AS BIGINT) AS w_milli
FROM {prev}
ORDER BY nationkey, c_mktsegment
"""


ORACLE_IPF_RAKING = _ipf_oracle()


# --------------------------------------------------------------------
# REOPENING r13 #4: leakage-safe out-of-fold target encoding
# --------------------------------------------------------------------

#: 3-fold assignment by md5-hex range (the q_hash_split portable-hash
#: pattern: uniform lexicographic thirds of the first 8 hex chars)
_TE_FOLD1 = "55555555"
_TE_FOLD2 = "aaaaaaaa"


def q_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe out-of-fold target encoding (REOPENING r13 #4) —
    the training-pipeline staple: encode ``o_orderpriority`` by the
    mean of the target (``o_totalprice`` in integer cents) computed
    over every fold EXCEPT the row's own. Fold assignment is the
    ``q_hash_split`` portable pattern (md5-hex range thirds of the
    order key — deterministic on both engines); the OOF mean for
    (category, fold) is (total_sum - fold_sum) / (total_n - fold_n),
    emitted in integer micro-dollars (floor), so the bounded
    (category x fold) encoding table is exact on both engines.

    Scale shape: ONE map-side-combinable aggregate over the fact
    (grouped by category x fold — cardinality 15), then the per-category
    totals come from re-aggregating that tiny table; the encode table
    broadcasts back onto the fact at apply time (not part of this
    audit's output). No second fact scan, no window over the fact.

    Cites ``Data_transform.py`` passim (the reference one-hot-ish
    pipeline has no target statistics); siblings ``q_kfold_cv``
    (evaluates models over folds), ``q_impute_mean`` (global mean) —
    nothing else computes leakage-safe target statistics."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("cents"),
        F.when(
            F.md5(F.col("o_orderkey").cast("string")).substr(1, 8)
            < _TE_FOLD1, 0
        ).when(
            F.md5(F.col("o_orderkey").cast("string")).substr(1, 8)
            < _TE_FOLD2, 1
        ).otherwise(2).cast("bigint").alias("fold"),
    )
    per_fold = o.groupBy("priority", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fold"),
        F.sum("cents").alias("sum_fold"),
    )
    per_cat = per_fold.groupBy("priority").agg(
        F.sum("n_fold").alias("n_tot"),
        F.sum("sum_fold").alias("sum_tot"),
    )
    return (
        per_fold.join(per_cat, "priority")
        # a category living entirely in one fold has no out-of-fold
        # data: drop the row rather than divide by zero, where Spark's
        # null and DuckDB's error would diverge (fixture-proofing; no
        # such category exists at any tested SF)
        .where(F.col("n_tot") > F.col("n_fold"))
        .select(
            "priority",
            "fold",
            "n_fold",
            (F.col("n_tot") - F.col("n_fold")).alias("n_oof"),
            F.expr("(sum_tot - sum_fold) * 10000 div (n_tot - n_fold)")
            .cast("bigint").alias("oof_mean_micro"),
        )
        .orderBy("priority", "fold")
    )


ORACLE_TARGET_ENCODE_OOF = rf"""
WITH o AS (
  SELECT o_orderpriority AS priority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(CASE
           WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                < '{_TE_FOLD1}' THEN 0
           WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                < '{_TE_FOLD2}' THEN 1
           ELSE 2 END AS BIGINT) AS fold
  FROM orders
),
pf AS (
  SELECT priority, fold,
         CAST(count(*) AS BIGINT) AS n_fold,
         CAST(sum(cents) AS BIGINT) AS sum_fold
  FROM o GROUP BY 1, 2
),
pc AS (
  SELECT priority,
         CAST(sum(n_fold) AS BIGINT) AS n_tot,
         CAST(sum(sum_fold) AS BIGINT) AS sum_tot
  FROM pf GROUP BY 1
)
SELECT pf.priority,
       pf.fold,
       pf.n_fold,
       pc.n_tot - pf.n_fold AS n_oof,
       CAST((pc.sum_tot - pf.sum_fold) * 10000
            // (pc.n_tot - pf.n_fold) AS BIGINT) AS oof_mean_micro
FROM pf JOIN pc ON pf.priority = pc.priority
WHERE pc.n_tot > pf.n_fold
ORDER BY pf.priority, fold
"""


# --------------------------------------------------------------------
# REOPENING r13 #5: bounded weighted shortest path (Bellman-Ford K)
# --------------------------------------------------------------------

#: relaxation rounds (max hops), unrolled identically in the oracle
_SP_K = 3
#: seed rule: same pure row-key predicate as q_bfs_levels
_SP_SEED_MOD = 97


def q_shortest_path_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted <=K-hop shortest path (REOPENING r13 #5): bounded
    worklist Bellman-Ford over the basket-chain part graph with
    data-derived integer edge costs
    ``cost = |price_cents(a) - price_cents(b)| + 1`` — traversal
    follows chains of similarly-priced co-purchased parts, the
    substitutability walk. Edges are each order's CONSECUTIVE sorted
    basket pairs (k-1 chain edges per order), a sparse spanning
    subgraph of the co-order clique with the SAME connected
    components — chosen deliberately: the full C(k,2) clique
    expansion (``q_bfs_levels``'s universe) triples the edge mass and
    puts ~70% of all nodes in every relaxation frontier, tripling the
    round cost without exercising anything new (measured 8.4s → ~6s
    at sf0.1 — build and relaxations both shrink). Multi-source
    seeds (part key divisible by 97, as in BFS), ``_SP_K`` relaxation
    rounds; emits each reached node's
    minimum path cost and, among minimum-cost paths, the minimum hop
    count.

    (cost, hops) is lexicographically minimized through ONE BIGINT
    ``key = cost * 8 + hops`` (hops <= K < 8; cost <= K * max cent
    difference ~ 6e5 so the encoding is exact) — a single ``min()``
    per node per round replaces a tie-broken argmin, identically on
    both engines (min_by would break ties arbitrarily; the encoded
    min cannot).

    Scale shape: the edge build is one shuffle (group lineitem by
    order key, chain pairs generated IN-ROW from the sorted basket
    array) with edge costs attached by two BROADCAST price lookups
    (part is the small dim — no pair-count shuffle), hash-partitioned
    on ``src``, the join key. The ``_SP_K`` rounds run on
    :func:`api.iterate`, which pins the edges for the loop and
    checkpoints every round's (node, key) best-table, so the rounds run
    while the DataFrame is built and the returned plan reads only the
    last checkpoint. Each round is one join of the best-table against
    the pinned edges, read in place, plus one map-side-combinable
    min-agg — the textbook distributed Bellman-Ford round, structurally
    identical to the oracle's unrolled CTEs. (A frontier-only worklist
    variant was measured and rejected during staging: on this weight
    structure ~90% of nodes improve every round, so the pruning joins
    cost more than they save.) Extends ``q_bfs_levels`` (unweighted
    levels) to weighted costs; the ~6s sf0.1 cost is the basket-graph
    build plus K edge-mass relaxation passes — the
    ``q_triangle_count`` family cost, not a scale hazard.

    Cites ``Data_transform.py`` passim (no graph surface in the
    reference)."""
    prices = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint").alias("cents"),
    )
    baskets = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    # fused symmetric chain-edge build (r13, VERDICT r12 next-#1): BOTH
    # orientations of each consecutive-pair edge are generated IN-ROW
    # from the sorted basket array, ONE repartition(src) exchange moves
    # them, and both the dedup and the two broadcast price lookups run
    # in place on the src-partitioned stream (dropDuplicates needs
    # clustering by a subset of its keys, which hashpartitioning(src)
    # satisfies; broadcast joins preserve the probe side's
    # partitioning). The r12 chain was distinct (Exchange on (a,b)) →
    # broadcast weights → union → repartition(src) — a SECOND full-edge
    # exchange, which this removes; the weight w = |c_src − c_dst| + 1
    # is symmetric, so per-orientation weights are identical. The
    # exchange also now carries only (src, dst), not (src, dst, w).
    # Partition count follows the session conf via
    # api._resolve_partitions (ADVICE r12: guard non-numeric conf).
    chain_sym = F.expr(
        "flatten(transform(sequence(1, size(ps) - 1),"
        " i -> array(struct(element_at(ps, i) AS src,"
        "                   element_at(ps, i + 1) AS dst),"
        "            struct(element_at(ps, i + 1) AS src,"
        "                   element_at(ps, i) AS dst))))"
    )
    npart = _resolve_partitions(baskets)
    edges = (
        baskets.select(F.explode(chain_sym).alias("p"))
        .select("p.src", "p.dst")
        .repartition(npart, "src")
        .dropDuplicates(["src", "dst"])
        .join(F.broadcast(prices.select(
            F.col("p_partkey").alias("src"),
            F.col("cents").alias("cs"))), "src")
        .join(F.broadcast(prices.select(
            F.col("p_partkey").alias("dst"),
            F.col("cents").alias("cd"))), "dst")
        .select(
            "src", "dst",
            (F.abs(F.col("cs") - F.col("cd")) + F.lit(1))
            .cast("bigint").alias("w"),
        )
    )
    best = (
        edges.select(F.col("src").alias("node"))
        .where(F.col("node") % _SP_SEED_MOD == 0)
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("key"))
    )

    def relax(best: DataFrame, _k: int) -> DataFrame:
        cand = (
            best.join(edges, best.node == edges.src)
            .select(
                F.col("dst").alias("node"),
                ((F.col("key") - F.col("key") % 8 + F.col("w") * 8)
                 + (F.col("key") % 8 + 1)).alias("key"),
            )
        )
        return best.union(cand).groupBy("node").agg(F.min("key").alias("key"))

    best = iterate(edges, best, relax, rounds=_SP_K)
    return best.select(
        "node",
        F.expr("key div 8").cast("bigint").alias("path_cost"),
        (F.col("key") % 8).cast("bigint").alias("hops"),
    ).orderBy("node")


def _sp_oracle() -> str:
    rounds = []
    prev = "b0"
    for i in range(1, _SP_K + 1):
        rounds.append(
            f"b{i} AS (\n"
            f"  SELECT node, min(key) AS key FROM (\n"
            f"    SELECT node, key FROM {prev}\n"
            f"    UNION ALL\n"
            f"    SELECT s.dst AS node,\n"
            f"           (p.key - p.key % 8 + s.w * 8) + (p.key % 8 + 1)"
            f" AS key\n"
            f"    FROM {prev} p JOIN sym s ON p.node = s.src\n"
            f"  ) GROUP BY node)"
        )
        prev = f"b{i}"
    body = ",\n".join(rounds)
    return rf"""
WITH baskets AS (
  SELECT l_orderkey,
         list_sort(list_distinct(list(l_partkey))) AS ps
  FROM lineitem GROUP BY l_orderkey
),
e AS (
  SELECT DISTINCT ps[i] AS a, ps[i + 1] AS b
  FROM baskets, unnest(range(1, len(ps))) AS u(i)
  WHERE len(ps) >= 2
),
pc AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
),
ew AS (
  SELECT e.a, e.b, abs(pa.cents - pb.cents) + 1 AS w
  FROM e JOIN pc pa ON e.a = pa.p_partkey
         JOIN pc pb ON e.b = pb.p_partkey
),
sym AS (
  SELECT a AS src, b AS dst, w FROM ew
  UNION ALL
  SELECT b AS src, a AS dst, w FROM ew
),
b0 AS (
  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS key
  FROM sym WHERE src % {_SP_SEED_MOD} = 0
),
{body}
SELECT node,
       CAST(key // 8 AS BIGINT) AS path_cost,
       CAST(key % 8 AS BIGINT)  AS hops
FROM {prev}
ORDER BY node
"""


ORACLE_SHORTEST_PATH_K = _sp_oracle()

# --------------------------------------------------------------------
# REOPENING r13 #6: Spark 4 SQL pipe syntax
# --------------------------------------------------------------------

#: shared shape for the pipe-syntax pair: filtered orders joined to
#: customer, revenue (exact integer cents) by market segment
_PIPE_ANSI = r"""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe operators (REOPENING r13 #6, env-vetted against
    the pinned PySpark 4.1.2 during drafting): the same
    filter -> join -> aggregate -> order chain every warehouse query
    runs, written left-to-right with ``|>`` — the SQL front-end surface
    added in Spark 4.0 (SPARK-49555). The oracle is the equivalent ANSI
    SQL, so the hash match proves the pipe chain resolves to the same
    result; Catalyst lowers both to the same logical plan (the pipe
    form is pure front-end sugar — same broadcast join, same partial
    aggregation, zero plan cost).

    Scale shape: identical to the ANSI twin — one broadcast/shuffle
    join on the customer key, one map-side-combined aggregate over the
    5 segments; integer-cents quantization keeps the sum exact on both
    engines.

    Cites ``Data_transform.py`` passim (the reference has no SQL
    front-end)."""
    for t in ("orders", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(r"""
FROM orders
|> WHERE o_orderstatus = 'F'
|> JOIN customer ON o_custkey = c_custkey
|> EXTEND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
|> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
   GROUP BY c_mktsegment
|> ORDER BY c_mktsegment
""")


ORACLE_SQL_PIPE_SYNTAX = _PIPE_ANSI


# --------------------------------------------------------------------
# REOPENING r13 #7: SQL-language scalar UDF (CREATE FUNCTION ... RETURN)
# --------------------------------------------------------------------

def q_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language scalar UDF (REOPENING r13 #7, env-vetted): a
    price-band function defined with Spark 4's
    ``CREATE OR REPLACE TEMPORARY FUNCTION ... RETURNS ... RETURN expr``
    and used in a grouped aggregate. Catalyst INLINES SQL UDFs into the
    plan at resolution time — no Python process, no serialization wall,
    no BatchEvalPython: this completes the repo's §2.11 zero-Python-UDF
    policy from the SQL side (the abstraction a shared warehouse wants:
    named, reusable logic at whole-stage-codegen speed). The oracle
    inlines the CASE expression by hand, so the hash match proves the
    UDF call is exactly its body.

    ``CREATE OR REPLACE`` keeps the definition idempotent across the
    driver's repeated calls within one session.

    Scale shape: identical to writing the CASE inline — one map-side
    classification, one combinable aggregate over 3 bands; the UDF adds
    zero plan nodes.

    Cites ``Data_transform.py`` passim (no SQL front-end in the
    reference)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
RETURNS STRING
RETURN CASE WHEN p < 75000 THEN 'low'
            WHEN p < 225000 THEN 'mid'
            ELSE 'high' END
""")
    return spark.sql(r"""
SELECT price_band(o_totalprice) AS band,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders
GROUP BY price_band(o_totalprice)
ORDER BY band
""")


ORACLE_SQL_SCALAR_UDF = r"""
SELECT CASE WHEN o_totalprice < 75000 THEN 'low'
            WHEN o_totalprice < 225000 THEN 'mid'
            ELSE 'high' END AS band,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders
GROUP BY 1
ORDER BY band
"""


#: name -> (query fn, oracle SQL): the REOPENING r13 ranking's top
#: seven, PROMOTED into the r12 flip (the staged r12 trio used only 3
#: of r12's ~10/round budget; precedent: r11 promoted
#: ``q_rollup_delta_apply``/``q_ann_recall_audit`` from the r12 seeds).
#: Registered below since the r12 flip (369 -> 376).
PROMOTED = {
    "q_hll_merge_rollup": (q_hll_merge_rollup, ORACLE_HLL_MERGE_ROLLUP),
    "q_phrase_search": (q_phrase_search, ORACLE_PHRASE_SEARCH),
    "q_ipf_raking": (q_ipf_raking, ORACLE_IPF_RAKING),
    "q_target_encode_oof": (
        q_target_encode_oof, ORACLE_TARGET_ENCODE_OOF),
    "q_shortest_path_k": (q_shortest_path_k, ORACLE_SHORTEST_PATH_K),
    "q_sql_pipe_syntax": (q_sql_pipe_syntax, ORACLE_SQL_PIPE_SYNTAX),
    "q_sql_scalar_udf": (q_sql_scalar_udf, ORACLE_SQL_SCALAR_UDF),
}

# r12 promotion registration: import-time, like every other operator
# module; the seven names join the never-graded backlog and lead the
# rotated r12 window together with the staged_r12 trio.
from spark_ml_spark.registry import query  # noqa: E402

for _n, (_fn, _sql) in PROMOTED.items():
    query(_n, _sql)(_fn)
