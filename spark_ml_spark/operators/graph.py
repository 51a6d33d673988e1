"""Round-3 wave-8: graph analytics over derived event graphs.

``q_pagerank`` — weighted PageRank over the event-type transition graph
(Page et al. 1999; the "which state matters" rollup of clickstream
analysis). Complements ``q_dedup_clusters``/``api.connected_components``
(unweighted label propagation): PageRank is the WEIGHTED iterative
sibling, and its oracle pins three full unrolled iterations
cross-engine, which the CC recursive-CTE oracle cannot do for scores.

``q_transition_matrix`` — the first-order Markov transition counts and
row-normalized probabilities the PageRank derives from; registered
separately because the edge-extraction pass (per-user event ordering →
consecutive-pair counting) is the scale-bearing stage and deserves its
own correctness row.

Engine exactness: ranks live in integer NANO units; every per-edge
contribution quantizes ``0.85·p·w/out`` to an integer BEFORE the
per-node sum, so sums are order-free BIGINT adds (the q_lm_score
discipline — a raw double sum over in-edges would be
partial-aggregation-order-dependent). Probabilities are ppm integers.

The reference has no graph surface (``Data_transform.py`` passim);
these are north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_ml_spark.io.sources import load
from spark_ml_spark.registry import query

#: damping factor (the standard 0.85) and fixed iteration count —
#: fixed so the oracle can unroll the same number of steps
_PR_D = "0.85"
_PR_ITERS = 3

#: shared SQL: event-type transition edges with weights
_EDGES_SQL = """
ev AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
edges AS (
  SELECT event_type AS src, next_type AS dst, CAST(count(*) AS BIGINT) AS w
  FROM ev WHERE next_type IS NOT NULL
  GROUP BY src, next_type
),
outdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM edges GROUP BY src),
nodes AS (
  SELECT DISTINCT t AS node FROM (
    SELECT src AS t FROM edges UNION SELECT dst FROM edges
  )
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)
"""


def _pr_iter_sql(k: int) -> str:
    """One unrolled PageRank step p{k} -> p{k+1} (same arithmetic as the
    Spark loop: per-edge integer quantization, then order-free sum)."""
    return f"""
p{k + 1} AS (
  SELECT nodes.node,
         (SELECT CAST(floor(150000000.0 / n + 0.5) AS BIGINT) FROM nn)
         + COALESCE(c.s, 0) AS p
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST(floor({_PR_D} * p{k}.p * e.w / o.outw + 0.5)
                         AS BIGINT)) AS BIGINT) AS s
    FROM edges e
    JOIN p{k} ON e.src = p{k}.node
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) c ON nodes.node = c.node
)"""


@query("q_pagerank", oracle=f"""
WITH {_EDGES_SQL},
p0 AS (
  SELECT node, (SELECT CAST(floor(1000000000.0 / n + 0.5) AS BIGINT)
                FROM nn) AS p
  FROM nodes
),
{",".join(_pr_iter_sql(k) for k in range(_PR_ITERS))}
SELECT node, CAST(p AS BIGINT) AS p_nano
FROM p{_PR_ITERS}
""")
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, {iters} fixed iterations) over
    the event-type transition graph: nodes = event types, edge weight =
    number of times type A is immediately followed by type B in a
    user's stream. Uniform init, no dangling redistribution (every
    fixture node has out-edges; at general scale add the dangling-mass
    term as one broadcast scalar per round).

    Scale shape: the scale-bearing stage is edge EXTRACTION — a
    per-user event-time window (lead) feeding a partial-aggregated
    (src, dst) count whose output is |types|² rows regardless of event
    volume. Each iteration is then one equi-join edges⋈ranks (shuffle
    keyed on src) + one partial-aggregated per-dst sum — the standard
    distributed PageRank round; at web-graph scale the SAME loop runs
    with ranks/edges as corpus-sized tables on ``api.iterate`` (pinned
    edges, one checkpoint per round, ``until`` for convergence detection
    instead of a fixed count). Exactness: per-edge
    contributions quantize to integer nano-units BEFORE the per-node
    sum (order-free BIGINT adds); the oracle unrolls the identical
    {iters} steps."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_next = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("next_type", F.lead("event_type").over(w_next))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"),
                 F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("outw"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    base = F.floor(F.lit(150000000.0) / F.col("n") + F.lit(0.5)).cast("bigint")
    init = F.floor(F.lit(1000000000.0) / F.col("n") + F.lit(0.5)).cast("bigint")
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", init.alias("p")
    )
    d = F.expr(f"CAST({_PR_D} AS DOUBLE)")
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    d * F.col("p") * F.col("w") / F.col("outw") + F.lit(0.5)
                ).cast("bigint").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (base + F.coalesce(F.col("s"), F.lit(0))).cast("bigint")
                .alias("p"),
            )
        )
    return ranks.select("node", F.col("p").alias("p_nano"))


q_pagerank.__doc__ = q_pagerank.__doc__.format(iters=_PR_ITERS)


@query("q_transition_matrix", oracle=f"""
WITH {_EDGES_SQL}
SELECT e.src, e.dst, e.w,
       CAST(floor(e.w * 1000000.0 / o.outw + 0.5) AS BIGINT) AS p_ppm
FROM edges e JOIN outdeg o ON e.src = o.src
""")
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for
    each (src, dst) event-type pair, the transition count and the
    row-normalized probability in integer ppm — the session-behavior
    fingerprint (and the input PageRank walks on).

    Scale shape: one per-user window (lead) over the event scan — the
    q_sessionize partitioning, no skew beyond a single user's history —
    then a partial-aggregated count whose output is bounded by |types|².
    The ppm normalization joins the |types|-sized out-degree table
    (broadcast). Exact integer output everywhere."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_next = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("next_type", F.lead("event_type").over(w_next))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("src"),
                 F.col("next_type").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("outw"))
    return (
        edges.join(F.broadcast(outdeg), "src")
        .select(
            "src", "dst", "w",
            F.floor(F.col("w") * 1000000.0 / F.col("outw") + F.lit(0.5))
            .cast("bigint").alias("p_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Co-occurrence / pointwise mutual information (wave-9)
# --------------------------------------------------------------------------


@query("q_event_pmi", oracle=r"""
WITH b AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events
),
bk AS (SELECT DISTINCT user_id, day FROM b),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM bk),
ct AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM b GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_co
  FROM b a
  JOIN b c ON a.user_id = c.user_id AND a.day = c.day
          AND a.event_type < c.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, ca.n_t AS n_a, cb.n_t AS n_b, p.n_co,
       CAST(floor(ln((n.n_baskets * p.n_co) * 1.0 / (ca.n_t * cb.n_t))
                  * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro_nats
FROM pairs p
JOIN ct ca ON ca.event_type = p.type_a
JOIN ct cb ON cb.event_type = p.type_b, n
""")
def q_event_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with pointwise mutual information:
    baskets are (user, day) activity sets; for every unordered pair of
    event types report basket-support counts and
    PMI = ln(N·c_ab / (c_a·c_b)) in integer micro-nats (negative =
    anti-correlated). The association-mining primitive behind "users who
    X also Y" and feature co-occurrence pruning (Church & Hanks 1990).

    Scale shape: the basket table dedups through one map-side-combined
    shuffle; the pair stage is a SELF-JOIN ON THE BASKET KEY, so its
    fan-out per basket is bounded by the type vocabulary (≤ |V|²/2
    pairs per basket, |V|=5 here) — bounded-blow-up by construction,
    the same discipline as the LSH bucket joins, and exactly what
    ``q_join_size_estimate`` pre-flights. Pair counts reduce map-side;
    the singles table and N broadcast onto the (≤ |V|²/2-row) pair
    table. The only float is the final ln() on a ratio of exact BIGINTs
    — one quantized evaluation per OUTPUT row, never accumulated (the
    q_skew_profile entropy discipline)."""
    b = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"), "event_type")
        .distinct()
    )
    n = b.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets")
    )
    ct = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t")
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = (
        a.join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.day") == F.col("c.day"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("c.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
    )
    ca = ct.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    cb = ct.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_co",
            F.floor(
                F.log(
                    (F.col("n_baskets") * F.col("n_co")) * F.lit(1.0)
                    / (F.col("n_a") * F.col("n_b"))
                )
                * 1000000.0
                + F.lit(0.5)
            ).cast("bigint").alias("pmi_micro_nats"),
        )
    )


@query("q_path_topk", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
paths AS (
  SELECT event_type || '>' || t2 || '>' || t3 AS path,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE t3 IS NOT NULL
  GROUP BY 1
)
SELECT path, n FROM paths
ORDER BY n DESC, path LIMIT 10
""")
def q_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent 3-step event-type paths across all users —
    the clickstream path-mining rollup one level above
    ``q_transition_matrix`` (first-order pairs): overlapping trigram
    windows of each user's event sequence, counted globally. Path keys
    are '>'-joined type names so ordering is total and engine-portable.

    Scale shape: the two ``lead()``s run in ONE per-user window pass
    (same partitioned window spec — Spark evaluates both in a single
    WindowExec, no second shuffle); path counting is map-side-combined
    on ≤ |V|³ keys (125 here) and the global top-10 is
    TakeOrderedAndProject (per-partition heap, never a global sort).
    The same plan shape mines longer n-grams by adding lead(k) columns
    — state stays one user-partition wide."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )
