"""Relational operator suite (SURVEY.md §2.1-§2.9).

Every dataflow operator the reference executes — scan, project, filter,
cast, dimension join, group/pivot aggregation, L1 normalization, distinct
counts, describe-stats, limit — re-expressed as declarative DataFrame plans,
plus the general relational surface (star joins, anti/semi joins, set ops,
windows, sessionization, rollup/cube, JSON/date functions) the 100 TB
north-star requires.

Scale notes apply throughout:
- filters/projections sit directly on parquet scans → Catalyst pushes them
  into the reader (``PushedFilters`` / ``ReadSchema`` in ``.explain``);
- dimension joins broadcast (no shuffle of the fact table);
- aggregations are hash aggregates with map-side partial reduction — never
  ``groupByKey``-style full-value shuffles (the reference's OOM hazard at
  ``Data_transform.py:100``);
- every float output is rounded in BOTH engines so the oracle value-hash
  compares stably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from spark_ml_spark.functions.exact import (
    DECIMAL_TYPE,
    decimal_exact_sums as _exact_sql,
    exact_avg,
    exact_sum,
    exact_sum_over,
)
from spark_ml_spark.io.sources import (
    fixture_key,
    load,
    read_documents_csv,
    relay,
)
from spark_ml_spark.registry import query

# --------------------------------------------------------------------------
# Sources / scans (SURVEY §2.1)
# --------------------------------------------------------------------------


@query("q_csv_scan", oracle="""
SELECT lang,
       count(*)                          AS n_docs,
       CAST(sum(n_chars) AS BIGINT)      AS sum_chars,
       ROUND(avg(length(text)), 4)       AS avg_text_len
FROM documents
GROUP BY lang
""")
def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S4: quote-aware CSV scan with header + declared schema.

    Replaces the reference's hand-rolled line parser (``Data_transform.py:
    32,36,44-57,59``: textFile → zipWithIndex header drop → arreglaComas
    quote fix → split). The round-trip (parquet → CSV → scan → aggregate)
    proves lossless parsing; the oracle reads the original table.
    """
    docs = read_documents_csv(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.avg(F.length("text")), 4).alias("avg_text_len"),
    )


@query("q_orc_scan", oracle="""
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""")
def q_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan (the other columnar format Spark ships natively):
    parquet → ORC round-trip, aggregate — ORC gets the same pushdown /
    pruning treatment from Catalyst as parquet."""
    out = relay(
        "documents_orc", fixture_key(sf_dir, "documents"),
        lambda tmp: load(spark, sf_dir, "documents")
        .write.mode("overwrite").orc(tmp),
    )
    return (
        spark.read.orc(out)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query("q_json_scan", oracle="""
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY source
""")
def q_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with declared schema (parquet → JSONL round-trip
    proves lossless ingest; the oracle reads the original table)."""
    from spark_ml_spark.io.sources import read_documents_json

    return (
        read_documents_json(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# --------------------------------------------------------------------------
# Projection / filter / casts (SURVEY §2.2)
# --------------------------------------------------------------------------


@query("q_project", oracle="""
SELECT l_orderkey AS order_key, l_linenumber AS line_no, l_quantity AS qty
FROM lineitem
""")
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P4: column projection + rename (reference does this positionally
    in Python, ``Data_transform.py:68-76``). Catalyst prunes the parquet
    scan to exactly these columns (check ReadSchema)."""
    return load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("qty"),
    )


@query("q_filter_predicate", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_quantity > 25 AND l_returnflag = 'A' AND l_shipdate IS NOT NULL
""")
def q_filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: predicate filter (reference: ``Data_transform.py:59``). The
    conjunction is pushed into the parquet scan (PushedFilters)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 25)
        & (F.col("l_returnflag") == "A")
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@query("q_cast", oracle="""
SELECT o_orderkey,
       CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) AS key_as_double,
       CAST(FLOOR(o_totalprice) AS BIGINT)         AS price_floor
FROM orders
""")
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: scalar casts (reference: ``float(x[0])`` at
    ``Data_transform.py:115-116``). Explicit ``floor`` before the integral
    cast — engines disagree on double→int rounding, so the plan says what
    it means."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").cast("double").alias("key_as_double"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
    )


@query("q_scalar_funcs", oracle="""
SELECT c_custkey,
       upper(c_mktsegment)                          AS seg_upper,
       string_split(c_name, '#')[1]                 AS name_prefix,
       regexp_replace(c_name, '[0-9]', '', 'g')     AS name_nodigits,
       CAST(length(c_name) AS INT)                  AS name_len,
       concat_ws('-', c_mktsegment, c_name)         AS seg_name
FROM customer
""")
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F5: string scalar functions (reference: split/strip/float at
    ``Data_transform.py:36,75,82,115-116``) — all JVM-side codegen."""
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.split(F.col("c_name"), "#").getItem(0).alias("name_prefix"),
        F.regexp_replace("c_name", "[0-9]", "").alias("name_nodigits"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
    )


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------


@query("q_count", oracle="SELECT count(*) AS n_rows FROM lineitem")
def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: global count (reference: ``rddFilas.count()`` at
    ``Data_transform.py:63``). Parquet row-group metadata makes this a
    metadata-only scan."""
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@query("q_groupby_agg", oracle=_exact_sql("""
SELECT l_returnflag, l_linestatus,
       ROUND(sum(l_quantity), 2)                                        AS sum_qty,
       ROUND(sum(l_extendedprice), 2)                                   AS sum_base_price,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       ROUND(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       ROUND(avg(l_quantity), 4)                                        AS avg_qty,
       ROUND(avg(l_extendedprice), 4)                                   AS avg_price,
       ROUND(avg(l_discount), 4)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""))
def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A7: TPC-H Q1-shaped multi-aggregate group-by (generalizes the
    reference's groupByKey at ``Data_transform.py:99-100`` into a hash
    aggregate with map-side partial reduction — bounded state, no
    full-value shuffle). Price sums/avgs accumulate in exact DECIMAL
    (functions/exact.py): double summation is run-order-dependent and a
    cent knife-edge after ROUND is a flaky driver hash failure."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-12-01")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(exact_sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(exact_sum(disc_price), 2).alias("sum_disc_price"),
        F.round(exact_sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(exact_avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(exact_avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query("q_having", oracle=_exact_sql("""
SELECT o_custkey, count(*) AS n_orders, ROUND(sum(o_totalprice), 2) AS total_spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
"""))
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: post-aggregation filter (HAVING)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(exact_sum("o_totalprice"), 2).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@query("q_count_distinct", oracle="""
SELECT count(DISTINCT l_orderkey)   AS n_orders,
       count(DISTINCT l_partkey)    AS n_parts,
       count(DISTINCT l_suppkey)    AS n_supps,
       count(DISTINCT l_returnflag) AS n_flags
FROM lineitem
""")
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: exact distinct counts, all four in ONE pass — the reference
    re-reads the CSV per column (``Data_transform.py:134-150``, ≥4 jobs).

    Scale note (SCALING.md r1 outlier, 1.9× wall for 100× data —
    root-caused): multiple exact COUNT(DISTINCT)s plan as an Expand (one
    duplicated row per distinct-aggregate) → the shuffle carries ~4× the
    input rows and the distinct-key state grows linearly with data
    (l_orderkey is ~n/4 keys), so this is the one aggregate whose shuffle
    is O(data), not O(groups). That is inherent to EXACT distinct; the
    at-scale default is ``q_approx_count_distinct`` (HyperLogLog++:
    bounded sketch state, map-side combinable, one shuffle row per
    partition) — use exact only for audit passes."""
    return load(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_returnflag").alias("n_flags"),
    )


@query("q_approx_count_distinct")  # rows-only: HLL sketches differ per engine
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 scale path: HyperLogLog++ distinct counts — the 100 TB-safe
    sibling of q_count_distinct (bounded sketch state instead of an exact
    distinct shuffle)."""
    return load(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
    )


@query("q_describe_stats", oracle=_exact_sql("""
SELECT count(l_quantity)                      AS cnt,
       ROUND(avg(l_quantity), 4)              AS mean_qty,
       ROUND(stddev_samp(l_quantity), 4)      AS std_qty,
       min(l_quantity)                        AS min_qty,
       max(l_quantity)                        AS max_qty,
       ROUND(avg(l_extendedprice), 4)         AS mean_price,
       ROUND(stddev_samp(l_extendedprice), 4) AS std_price
FROM lineitem
"""))
def q_describe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: column profiling — the SQL-expressible form of ``df.describe()``
    (reference: ``Data_transform.py:140``). The price mean uses the exact
    decimal sum; stddev stays double (its ulp noise lands ~8 orders of
    magnitude under the 4-dp round — no realistic knife-edge, unlike
    plain price sums)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("l_quantity").alias("cnt"),
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(exact_avg("l_extendedprice"), 4).alias("mean_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
    )


@query("q_percentiles", oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
""")
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: exact continuous percentiles per group (both engines
    use the same linear-interpolation definition). Exact percentile holds
    all values per group — fine per-group, see q_approx_percentiles for
    the 100 TB path. ONE array-argument percentile call, not three
    scalar ones: each Percentile aggregate buffers the full value
    multiset independently, so the scalar form triples the aggregation
    state and merge cost for identical output (measured 4.0 → 1.3 s at
    sf0.1; it was the worst 0.001→0.1 scaling ratio in the r6 probe)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))"
            ).alias("ps")
        )
        .select(
            "l_returnflag",
            F.round(F.col("ps")[0], 4).alias("p50"),
            F.round(F.col("ps")[1], 4).alias("p95"),
            F.round(F.col("ps")[2], 4).alias("p99"),
        )
    )


@query("q_approx_percentiles")  # rows-only: t-digest/KLL sketches are
# engine-specific at the boundaries
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 scale path: approx_percentile — bounded sketch state instead of
    buffering every value; the safe formulation when a group holds
    billions of rows."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("ap50"),
            F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("ap95"),
        )
    )


@query("q_pivot", oracle="""
SELECT l_returnflag,
       ROUND(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       ROUND(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
FROM lineitem
GROUP BY l_returnflag
""")
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: pivot with an EXPLICIT value list — the reference fixes its
    pivot dimensions via ``familias.txt`` (``Data_transform.py:82,87-95``);
    passing the values to ``pivot()`` likewise avoids an extra distinct
    scan and nondeterministic column order."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@query("q_l1_normalize", oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_quantity / NULLIF(sum(l_quantity) OVER (PARTITION BY l_orderkey), 0), 6)
         AS qty_frac
FROM lineitem
""")
def q_l1_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: L1 row-group normalization with zero-guard — the reference's
    ``toVector`` divide-by-sum (``Data_transform.py:92-95``) as a window
    expression (SURVEY §2.5; api.l1_normalize)."""
    from spark_ml_spark.api import l1_normalize

    return l1_normalize(
        load(spark, sf_dir, "lineitem"), ["l_orderkey"], "l_quantity"
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity_frac", 6).alias("qty_frac"),
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# --------------------------------------------------------------------------


@query("q_semi_join", oracle="""
SELECT l_returnflag, count(*) AS n_items, ROUND(sum(l_quantity), 2) AS sum_qty
FROM lineitem l
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
""")
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/J1: left-semi join — the reference's drop-unknown-families
    membership test (``if f in familias``, ``Data_transform.py:90``) as a
    hash semi-join instead of an O(vocab) per-row linear scan."""
    li = load(spark, sf_dir, "lineitem")
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(urgent, li.l_orderkey == urgent.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query("q_dim_broadcast_join", oracle="""
SELECT p_brand, count(*) AS n_items, ROUND(sum(l_quantity), 2) AS brand_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""")
def q_dim_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/S5: fact ⋈ broadcast(dimension) — the reference's closure-captured
    ``familias`` list (``Data_transform.py:82,90-91``) becomes an explicit
    broadcast hash join: the dim ships to every executor once; the 100 TB
    fact table never shuffles."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("brand_qty"),
        )
    )


@query("q_star_join", oracle=_exact_sql("""
SELECT r_name, n_name,
       ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT c_custkey)                         AS n_customers
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""))
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: 5-way star join. Dims (nation, region, customer) broadcast; the
    only shuffle is lineitem⋈orders (AQE may broadcast orders too at small
    SF). At 100 TB: bucket lineitem+orders on orderkey to make that join
    co-located."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@query("q_anti_join", oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""")
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left-anti join (NOT EXISTS) — customers with no urgent orders."""
    c = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# --------------------------------------------------------------------------


@query("q_union", oracle="""
SELECT c_name AS name, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name AS name, 'supplier' AS kind FROM supplier
""")
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union by name across two entity tables."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return c.unionByName(s)


@query("q_intersect", oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""")
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): nations having both customers and
    suppliers."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query("q_except", oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
""")
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): nations with customers but no
    suppliers."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# --------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.6)
# --------------------------------------------------------------------------


@query("q_limit", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 5
""")
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: deterministic limit (reference: ``take(1)``/``show(n)``). The
    sort covers EVERY projected column: (l_orderkey, l_linenumber) alone
    is not unique at sf0.1, so a shorter key would let each engine pick a
    different representative row at the cut; with all three columns
    ordered, ties are full-row duplicates and the selected SET is
    engine-independent."""
    return (
        load(spark, sf_dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .limit(5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query("q_topk", oracle="""
SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: top-k — Spark plans TakeOrderedAndProject (per-partition heap +
    driver merge; no global sort, scales to any partition count)."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


# --------------------------------------------------------------------------
# Window functions / sessionization (SURVEY §2.5)
# --------------------------------------------------------------------------


@query("q_window_rank", oracle="""
SELECT event_id, user_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       lag(value, 1)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
FROM events
""")
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + lag windows over the events stream table."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.lag("value", 1).over(w).alias("prev_value"),
    )


@query("q_window_running", oracle=_exact_sql("""
SELECT event_id, user_id,
       ROUND(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
         AS running_value
FROM events
"""))
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate with an explicit ROWS frame. The
    frame sum accumulates in exact decimal: engines evaluate window sums
    with different association orders (running fold vs segment tree), so
    even a totally-ordered frame can differ by ulps cross-engine."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(exact_sum_over("value", w), 4).alias("running_value"),
    )


@query("q_sessionize", oracle="""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
FROM g
""")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session; session id is
    the running count of session starts (the standard lag+cumsum pattern —
    no Python, no state store needed in batch; api.sessionize)."""
    from spark_ml_spark.api import sessionize

    return sessionize(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_id", 1800
    ).select("user_id", "event_id", "session_id")


@query("q_tumbling_window", oracle=_exact_sql("""
SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
       event_type,
       count(*)               AS n_events,
       ROUND(sum(value), 4)    AS sum_value
FROM events
GROUP BY 1, 2
"""))
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window as a batch aggregation (SURVEY
    §2.9). Buckets on epoch seconds — timezone-proof, so the oracle
    comparison cannot be skewed by session timezone."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(exact_sum("value"), 4).alias("sum_value"),
        )
    )


@query("q_sliding_window", oracle=_exact_sql("""
WITH s AS (
  SELECT CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800 AS base,
         event_type, value
  FROM events
), w AS (
  SELECT unnest([base, base - 1800]) AS win_start, event_type, value FROM s
)
SELECT win_start,
       win_start + 3600     AS win_end,
       event_type,
       count(*)             AS n_events,
       ROUND(sum(value), 4)  AS sum_value
FROM w GROUP BY win_start, event_type
"""))
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 h width, 30 min slide) as a batch
    aggregation — every event lands in exactly width/slide = 2 windows
    (``F.window`` emits the per-event window list via one Expand, no
    self-union, no double scan). Emitted with epoch-second bounds so the
    oracle (which unrolls the two window starts arithmetically) is
    timezone-proof. Scale: the shuffle carries 2× rows pre-aggregated by
    map-side partials — same shape as tumbling, one extra Expand."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(exact_sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").alias("win_start"),
            F.unix_timestamp("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query("q_asof_join", oracle="""
SELECT c.event_id, c.ts, c.user_id,
       p.event_id AS purchase_event_id, p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""")
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click joined to the user's most recent
    prior-or-simultaneous purchase. Implemented as the MERGE formulation —
    union both sides, one window sort per user, ``last(..., ignorenulls)``
    carries the latest purchase forward — NOT as an inequality join (which
    Spark would plan as a broadcast-nested-loop: O(n·m) per user and a
    non-starter at 100 TB). Cost: one shuffle on user_id + one sort, same
    as any windowed query.

    Tie semantics (purchase at exactly click.ts matches) are encoded by
    sorting purchases before clicks at equal ts — matching DuckDB's
    ``ASOF ... ON c.ts >= p.ts``."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    unioned = clicks.select(
        "event_id", "ts", "user_id",
        F.lit(0).alias("is_purchase"),
        F.lit(None).cast("long").alias("p_event_id"),
        F.lit(None).cast("double").alias("p_value"),
    ).unionByName(
        purchases.select(
            "event_id", "ts", "user_id",
            F.lit(1).alias("is_purchase"),
            F.col("event_id").alias("p_event_id"),
            F.col("value").alias("p_value"),
        )
    )
    # purchases sort BEFORE clicks at equal ts (is_purchase DESC) so a
    # same-instant purchase is visible to the click; event_id breaks the
    # remaining ties deterministically
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", F.col("is_purchase").desc(), "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        unioned.withColumn(
            "purchase_event_id", F.last("p_event_id", ignorenulls=True).over(w)
        )
        .withColumn("purchase_value", F.last("p_value", ignorenulls=True).over(w))
        .filter(F.col("is_purchase") == 0)
        .select("event_id", "ts", "user_id", "purchase_event_id", "purchase_value")
    )


@query("q_salted_agg", oracle=_exact_sql("""
SELECT event_type, count(*) AS n_events, ROUND(sum(value), 4) AS sum_value
FROM events
GROUP BY event_type
"""))
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern: two-phase SALTED aggregation. Phase 1
    groups on (key, salt) — a hot key's rows spread over 16 reducers
    instead of one; phase 2 merges the 16 partials per key. The result is
    identical to the plain group-by (the oracle), which is the point:
    salting changes the shuffle layout, never the answer. (For built-in
    aggregates Spark's partial aggregation + AQE skew handling make this
    mostly unnecessary — the pattern matters for non-partial-izable
    aggregates like exact percentiles or collect_list at scale.)"""
    salted = load(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(16))
    )
    # phase-1 partials stay DECIMAL so the two-phase sum is exact end to
    # end (salting must never change the answer — including its ulps)
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast(DECIMAL_TYPE)).alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv").cast("double"), 4).alias("sum_value"),
    )


@query("q_partition_pruning", oracle=_exact_sql("""
SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n_orders,
       ROUND(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE year(o_orderdate) = 1995
GROUP BY 1
"""))
def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned sink + pruned scan: write orders hive-partitioned by
    year (once per sf_dir, repo-local cache), then aggregate one year —
    the scan's PartitionFilters skip every other year's files entirely.
    At 100 TB this IS the dominant optimization: partition layout turns a
    full-table scan into a directory listing + one partition read."""
    out = relay(
        "orders_by_year", fixture_key(sf_dir, "orders"),
        lambda tmp: load(spark, sf_dir, "orders")
        .withColumn("yr", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("yr")
        .parquet(tmp),
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("yr") == 1995)
        .groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(exact_sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# Multi-dimensional aggregation (rollup/cube) + JSON/date scalar surface
# --------------------------------------------------------------------------


@query("q_rollup", oracle=_exact_sql("""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders, ROUND(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""))
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (ROLLUP)."""
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(exact_sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query("q_cube", oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items, ROUND(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-dimensional subtotals (CUBE)."""
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query("q_json_extract", oracle="""
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
""")
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events ``props`` payload
    (``F.get_json_object`` — JVM-side Jackson, no Python)."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


@query("q_date_parts", oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT)  AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS epoch_day
FROM orders
""")
def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + timezone-proof epoch-day bucketing."""
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400).alias("epoch_day"),
    )


# --------------------------------------------------------------------------
# Flagship (SURVEY §7 milestone 0): the reference's signature computation —
# scan → project → filter → broadcast dim join → group/pivot agg →
# L1-normalize → order — transplanted onto the star schema.
# --------------------------------------------------------------------------

FLAGSHIP_ORACLE = """
WITH j AS (
  SELECT n_name, l_returnflag, l_quantity
  FROM lineitem
  JOIN orders   ON l_orderkey  = o_orderkey
  JOIN customer ON o_custkey   = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_quantity > 0
), p AS (
  SELECT n_name,
         sum(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS qty_a,
         sum(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) AS qty_n,
         sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS qty_r
  FROM j GROUP BY n_name
)
SELECT n_name,
       ROUND(qty_a / NULLIF(qty_a + qty_n + qty_r, 0), 6) AS frac_a,
       ROUND(qty_n / NULLIF(qty_a + qty_n + qty_r, 0), 6) AS frac_n,
       ROUND(qty_r / NULLIF(qty_a + qty_n + qty_r, 0), 6) AS frac_r
FROM p
"""


@query("q_flagship", oracle=FLAGSHIP_ORACLE)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline's shape end-to-end (``Data_transform.py``
    §§ingest→group→pivot→normalize, lines 32-100): per nation, pivot
    ``l_returnflag`` over an explicit vocabulary, sum quantities,
    L1-normalize the row. Exercises S-, P-, J-, A- and O-category operators
    in one plan: pruned scans, pushed filter, broadcast dim joins, partial
    hash aggregation, pivot with fixed values."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .filter(F.col("l_quantity") > 0)
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    piv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_quantity"))
        .na.fill(0.0, ["A", "N", "R"])
    )
    total = F.nullif(F.col("A") + F.col("N") + F.col("R"), F.lit(0.0))
    return piv.select(
        "n_name",
        F.round(F.col("A") / total, 6).alias("frac_a"),
        F.round(F.col("N") / total, 6).alias("frac_n"),
        F.round(F.col("R") / total, 6).alias("frac_r"),
    )


@query("q_window_leadlag", oracle="""
SELECT event_id, user_id, ts,
       ROUND(value - lag(value)  OVER w, 4)  AS value_delta,
       CAST(floor((epoch_us(lead(ts) OVER w) - epoch_us(ts)) / 1000000.0)
            AS BIGINT)                       AS secs_to_next
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_window_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag offset windows (SURVEY §2.5): per-user value deltas and
    inter-event gaps — the building block of funnel/retention analysis.
    One shuffle on user_id serves BOTH window functions (same WINDOW
    spec → one sort, one Window physical node). At 100 TB this is the
    minimum possible cost for any per-entity ordered computation."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
        # microsecond-exact gap, floored to whole seconds (unix_timestamp
        # would truncate each endpoint BEFORE subtracting — off by one
        # whenever the fractional parts wrap)
        F.floor(
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"))
            / F.lit(1_000_000.0)
        ).cast("bigint").alias("secs_to_next"),
    )


@query("q_range_join", oracle="""
SELECT p.event_id                              AS purchase_id,
       p.user_id, p.ts,
       count(c.event_id)                       AS clicks_before,
       ROUND(coalesce(sum(c.value), 0.0), 4)   AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
GROUP BY p.event_id, p.user_id, p.ts
""")
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: attribute to each purchase the clicks by
    the same user in the preceding 10 minutes. The user_id equi-key
    makes this a plain SortMergeJoin with the time range as a join-level
    post-filter — Catalyst never falls back to a nested-loop, so the
    cost is one shuffle per side at any scale. (A PURE range join with
    no equi-key needs manual time-bucketing — join on overlapping
    coarse buckets, then filter — or it plans as a broadcast-nested-
    loop; with the equi-key present, bucketing is unnecessary.)"""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").alias("ts"),
    ).agg(
        F.count("click_id").alias("clicks_before"),
        F.round(F.coalesce(F.sum("c_value"), F.lit(0.0)), 4).alias("click_value"),
    )


#: fixed histogram bounds for l_extendedprice (TPC-H price domain is
#: [~900, ~105000] at every SF — constants, so both engines bin identically
#: without a data-dependent min/max pre-pass)
_HIST_LO = 900.0
_HIST_HI = 105000.0
_HIST_BINS = 10
_HIST_WIDTH = (_HIST_HI - _HIST_LO) / _HIST_BINS


@query("q_histogram", oracle=_exact_sql(f"""
SELECT CAST(least(greatest(FLOOR((l_extendedprice - {_HIST_LO}) / {_HIST_WIDTH}), 0),
                  {_HIST_BINS - 1}) AS BIGINT)                    AS bin_id,
       ROUND({_HIST_LO} + least(greatest(FLOOR((l_extendedprice - {_HIST_LO}) / {_HIST_WIDTH}), 0),
                  {_HIST_BINS - 1}) * {_HIST_WIDTH}, 2)           AS bin_lo,
       count(*)                                                   AS n_rows,
       ROUND(avg(l_extendedprice), 4)                             AS bin_mean
FROM lineitem
GROUP BY 1, 2
"""))
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (10 bins over the known price domain) — the
    standard profiling pass. Static bounds keep it ONE scan + one hash
    agg (a data-dependent min/max would cost an extra full pass at
    100 TB; profile jobs pin domain constants or reuse yesterday's);
    clamping folds outliers into the edge bins."""
    x = F.col("l_extendedprice")
    bin_id = F.least(
        F.greatest(F.floor((x - _HIST_LO) / _HIST_WIDTH), F.lit(0)),
        F.lit(_HIST_BINS - 1),
    )
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            bin_id.cast("bigint").alias("bin_id"),
            F.round(_HIST_LO + bin_id * _HIST_WIDTH, 2).alias("bin_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(exact_avg(x), 4).alias("bin_mean"),
        )
    )


@query("q_corr_matrix", oracle="""
SELECT ROUND(corr(l_quantity, l_extendedprice), 4)  AS qty_price,
       ROUND(corr(l_quantity, l_discount), 4)       AS qty_disc,
       ROUND(corr(l_extendedprice, l_discount), 4)  AS price_disc,
       ROUND(corr(l_extendedprice, l_tax), 4)       AS price_tax
FROM lineitem
""")
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numeric columns in
    ONE aggregation pass (the feature-screening step before modeling) —
    the reference profiles columns one full CSV re-read at a time
    (``Data_transform.py:134-150``); here all pairs share a single scan
    and map-side partial moments."""
    return load(spark, sf_dir, "lineitem").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price"),
        F.round(F.corr("l_quantity", "l_discount"), 4).alias("qty_disc"),
        F.round(F.corr("l_extendedprice", "l_discount"), 4).alias("price_disc"),
        F.round(F.corr("l_extendedprice", "l_tax"), 4).alias("price_tax"),
    )


@query("q_upsert_latest", oracle="""
SELECT user_id, event_id, ts, ROUND(value, 4) AS value
FROM (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""")
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record view (SCD-1 / upsert compaction): one row per key,
    the most recent by (ts, event_id) — how a mutable-key table is
    compacted from an append-only event log. Partitioned window + rn=1
    (WindowGroupLimit pushes the limit into the sort, so no partition
    ever materializes a full user history); at 100 TB this runs
    incrementally per ingest batch against the previous compaction."""
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", F.round("value", 4).alias("value"))
    )


@query("q_bucketed_join", oracle=_exact_sql("""
SELECT o_custkey,
       count(*)                         AS n_items,
       ROUND(sum(l_extendedprice), 2)   AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
"""))
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join through BUCKETED storage (api.write_bucketed): both
    sides hash-bucketed+sorted on the join key, so the join needs NO
    exchange on either side — each bucket pair merges locally. This is
    the single biggest 100 TB lever in the star schema: the
    lineitem⋈orders shuffle becomes a co-located merge, paid once at
    write time and amortized over every subsequent join on that key
    (tests/test_bucketed_join.py asserts the exchange-free plan with
    broadcast disabled). Results must equal the plain shuffle join — the
    oracle runs the ordinary join."""
    import os

    from spark_ml_spark.api import write_bucketed
    from spark_ml_spark.io.sources import _CACHE_DIR, fixture_key

    key = fixture_key(sf_dir, "lineitem", "orders")
    base = os.path.join(_CACHE_DIR, f"bucketed_{key}")
    li_t, o_t = f"lineitem_bq_{key}", f"orders_bq_{key}"
    # idempotent per (session, sf): bucket metadata lives in the catalog
    if not spark.catalog.tableExists(li_t):
        write_bucketed(
            load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
            li_t, os.path.join(base, li_t), "l_orderkey",
        )
    if not spark.catalog.tableExists(o_t):
        write_bucketed(
            load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            o_t, os.path.join(base, o_t), "o_orderkey",
        )
    li = spark.table(li_t)
    o = spark.table(o_t)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(exact_sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query("q_custom_udaf", oracle="""
SELECT l_returnflag,
       ROUND(exp(avg(ln(l_quantity))), 4) AS geomean_qty,
       count(*)                           AS n_rows
FROM lineitem
WHERE l_quantity > 0
GROUP BY l_returnflag
""")
def q_custom_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (§2.11's sanctioned escape hatch): a grouped-agg
    ``pandas_udf`` computing the geometric mean — Arrow ships each
    group's column as ONE vectorized batch to Python (ArrowAggregatePython
    in the plan), never row-at-a-time pickling (BatchEvalPython stays
    banned). The same statistic is closed-form SQL (exp∘avg∘ln), which
    is exactly what makes it oracle-checkable; a UDAF is the right tool
    when the per-group computation is NOT expressible (sklearn calls,
    custom sketches) — this query proves the surface works and that the
    Arrow path agrees with the relational algebra to 4 decimals.

    Scale: grouped-agg pandas UDFs materialize each GROUP on one
    executor (no partial aggregation) — fine for bounded groups like the
    3 return flags; for high-cardinality keys prefer expression algebra
    or a two-stage partial design."""
    # NOTE: the signature must use REAL types resolvable at decoration
    # time — under `from __future__ import annotations` the hints are
    # strings and pandas_udf resolves them against the function globals,
    # so `pd` must be a module-level import.
    import pandas as pd

    def _geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v).mean()))

    _geomean.__annotations__ = {"v": pd.Series, "return": float}
    geomean = F.pandas_udf(_geomean, "double")

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg(), so the row count is a pandas UDAF too
    def _ncount(v: pd.Series) -> int:
        return int(len(v))

    _ncount.__annotations__ = {"v": pd.Series, "return": int}
    ncount = F.pandas_udf(_ncount, "long")

    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .groupBy("l_returnflag")
        .agg(
            F.round(geomean("l_quantity"), 4).alias("geomean_qty"),
            ncount("l_quantity").alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# Data-layout optimization: Morton (z-order) clustering
# --------------------------------------------------------------------------

#: z-order parameters: keys are min-max normalized onto a 16-bit grid
#: before interleaving (raw keys occupy only the low bits of their domain,
#: which would leave the HIGH interleaved bits all-zero and collapse every
#: row into one bucket); bucket = top _Z_BUCKET_BITS of the 32-bit z-value.
_Z_BITS = 16
_Z_BUCKET_BITS = 6


def _morton_sql(x: str, y: str) -> str:
    """Morton interleave of two pre-normalized 16-bit columns as portable
    SQL (``>> << & |`` arithmetic only — parses identically in DuckDB)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@query("q_zorder_layout", oracle=f"""
WITH b AS (
  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
         min(l_suppkey) AS mins, max(l_suppkey) AS maxs
  FROM lineitem
), n AS (
  SELECT l_partkey, l_suppkey,
         CAST(FLOOR((l_partkey - minp) * 65536.0 / (maxp - minp + 1)) AS BIGINT) AS nx,
         CAST(FLOOR((l_suppkey - mins) * 65536.0 / (maxs - mins + 1)) AS BIGINT) AS ny
  FROM lineitem, b
), z AS (
  SELECT l_partkey, l_suppkey,
         {_morton_sql("nx", "ny")} AS zval
  FROM n
)
SELECT CAST(zval >> {2 * _Z_BITS - _Z_BUCKET_BITS} AS BIGINT) AS z_bucket,
       count(*)        AS n_rows,
       min(l_partkey)  AS min_part, max(l_partkey) AS max_part,
       min(l_suppkey)  AS min_supp, max(l_suppkey) AS max_supp,
       CAST((max(l_partkey) - min(l_partkey) + 1)
            * (max(l_suppkey) - min(l_suppkey) + 1) AS BIGINT) AS bbox_area
FROM z GROUP BY z_bucket
""")
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering for multi-dimensional data layout:
    min-max normalize (l_partkey, l_suppkey) onto a 16-bit grid,
    interleave the bits, and bucket rows by the top {_Z_BUCKET_BITS}
    z-bits. Every bucket's min/max BOUNDING BOX is tight in BOTH keys
    simultaneously — the property a 1-D sort only gives its leading
    column — so parquet row-group min/max statistics prune scans for
    predicates on EITHER key. The per-bucket bbox stats returned are the
    measurable evidence (bbox_area ≪ full-domain area).

    At 100 TB this is the layout step before the write:
    ``df.repartitionByRange(N, zval).sortWithinPartitions(zval)`` then a
    parquet write — range partitioning on the z-value IS the cluster
    assignment, one shuffle, no post-pass. Key bounds ride a 1-row
    broadcast; the interleave is pure JVM integer arithmetic folded by
    codegen, replicated exactly in the DuckDB oracle (the normalization
    expression is written with identical operation order, so IEEE
    division yields bit-identical doubles and floors in both engines)."""
    li = load(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("minp"), F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"), F.max("l_suppkey").alias("maxs"),
    )
    n = li.crossJoin(F.broadcast(bounds)).select(
        "l_partkey", "l_suppkey",
        F.floor((F.col("l_partkey") - F.col("minp")) * 65536.0
                / (F.col("maxp") - F.col("minp") + 1)).alias("nx"),
        F.floor((F.col("l_suppkey") - F.col("mins")) * 65536.0
                / (F.col("maxs") - F.col("mins") + 1)).alias("ny"),
    )
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        # Column.__or__ is BOOLEAN or; bitwise OR must be explicit
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright("nx", i).bitwiseAND(F.lit(1)), 2 * i)
        )
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright("ny", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    zdf = n.select(
        "l_partkey", "l_suppkey",
        F.shiftright(z, 2 * _Z_BITS - _Z_BUCKET_BITS).alias("z_bucket"),
    )
    return zdf.groupBy("z_bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("min_part"), F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"), F.max("l_suppkey").alias("max_supp"),
        ((F.max("l_partkey") - F.min("l_partkey") + 1)
         * (F.max("l_suppkey") - F.min("l_suppkey") + 1)).alias("bbox_area"),
    )


# --------------------------------------------------------------------------
# Event analytics: funnel, cohort retention, range-frame windows
# --------------------------------------------------------------------------


@query("q_funnel", oracle="""
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE event_type = 'view' AND ts > t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE event_type = 'click' AND ts > t2 GROUP BY e.user_id),
s4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e JOIN s3 USING (user_id)
       WHERE event_type = 'purchase' AND ts > t3 GROUP BY e.user_id)
SELECT step, n_users,
       ROUND(CAST(n_users AS DOUBLE)
             / (SELECT count(*) FROM s1), 4) AS conversion
FROM (SELECT 1 AS step, count(*) AS n_users FROM s1
      UNION ALL SELECT 2, count(*) FROM s2
      UNION ALL SELECT 3, count(*) FROM s3
      UNION ALL SELECT 4, count(*) FROM s4) f
""")
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup → view → click → purchase): a user
    reaches step k+1 only via an event strictly AFTER their step-k time —
    the chained min-after-previous-step formulation, which is immune to
    out-of-order event delivery (unlike a naive per-type min compare).

    Each stage is one filtered scan + per-user min, joined to the prior
    stage on user_id — four shuffles all on the SAME key, so a cluster
    co-partitions them into one exchange chain (and a bucketed-by-user
    event layout, cf. ``api.write_bucketed``, eliminates them entirely).
    No windows over full history, no per-user event array materialized:
    state per user is one timestamp per stage, which is what lets this
    run over years of events at 100 TB."""
    ev = load(spark, sf_dir, "events")

    def stage(prev: DataFrame, etype: str, tprev: str, tcur: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(tprev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcur))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = stage(s1, "view", "t1", "t2")
    s3 = stage(s2, "click", "t2", "t3")
    s4 = stage(s3, "purchase", "t3", "t4")
    counts = None
    for step, s in enumerate((s1, s2, s3, s4), start=1):
        c = s.agg(
            F.lit(step).alias("step"), F.count(F.lit(1)).alias("n_users")
        )
        counts = c if counts is None else counts.unionAll(c)
    base = s1.agg(F.count(F.lit(1)).cast("double").alias("n_base"))
    return counts.crossJoin(F.broadcast(base)).select(
        "step", "n_users",
        F.round(F.col("n_users") / F.col("n_base"), 4).alias("conversion"),
    )


@query("q_retention_cohorts", oracle="""
WITH first AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
       datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN first f USING (user_id)
GROUP BY f.cohort_day, day_offset
""")
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, and
    for each (cohort, day-offset) the count of distinct cohort members
    active that day — the standard product-analytics retention triangle.

    Two shuffles, both on user_id (first-touch agg, then the activity
    join — co-partitioned on a cluster), then one distinct-agg on the
    tiny (cohort, offset) key space. The cohort table carries one row
    per user (not per event), so the join's build side stays
    |users| ≪ |events| and broadcastable far up the scale curve."""
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        # ISO string, not DateType: Spark dates surface as datetime.date
        # objects through pandas while DuckDB DATEs become datetime64 —
        # the driver's canonicalizer hashes those differently
        .withColumn("cohort_day", F.date_format("cohort_day", "yyyy-MM-dd"))
    )


@query("q_window_range_frame", oracle=_exact_sql("""
SELECT event_id, user_id,
       count(*) OVER w                 AS n_events_1h,
       ROUND(sum(value) OVER w, 4)     AS sum_value_1h
FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""))
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (§2.5 extension): per-user rolling 1-hour event
    count and value sum — the frame is bounded by a VALUE interval on
    event time (microseconds), not a row count, so it is insensitive to
    event density (ROWS BETWEEN 10 PRECEDING would not be).

    Partitioned by user_id — parallel per-user sorts, no global sort.
    Epoch microseconds (``unix_micros`` / ``epoch_us``) make the frame
    boundary engine-exact; a seconds truncation would tie-break
    differently between engines at window edges."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_micros("ts").alias("us")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        # exact decimal frame sum: sliding-frame evaluation orders differ
        # across engines (running fold with eviction vs segment tree)
        F.round(exact_sum_over("value", w), 4).alias("sum_value_1h"),
    )


@query("q_incremental_agg", oracle=_exact_sql("""
SELECT user_id, event_type,
       count(*)               AS n_events,
       ROUND(sum(value), 2)   AS total_value,
       ROUND(ROUND(sum(value), 2) / count(*), 6) AS avg_value
FROM events
GROUP BY user_id, event_type
"""))
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via PARTIAL-STATE MERGE: the event stream
    is split at 2024-01-21 into an "already processed" batch and a "new
    arrivals" batch; each is aggregated to mergeable partials
    (count, sum — avg is NOT mergeable, so it is derived sum/count at
    the end), and the two partial tables merge with one tiny agg.
    The oracle is the plain full-history aggregate: merged partials must
    equal a from-scratch recompute EXACTLY.

    This is the restatement-free daily-pipeline shape at 100 TB: each
    day aggregates only its own partition and merges into yesterday's
    compact state table (|users × types| rows, not |events|), instead of
    rescanning all history. Works for any algebraic aggregate
    (count/sum/min/max; avg and stddev via their sum-of-powers
    decomposition); holistic aggregates (exact median) need the full
    re-scan and are the documented exception."""
    ev = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-21").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        # partials stay DECIMAL so the merge is exact end to end — the
        # merged state must equal a from-scratch recompute INCLUDING its
        # ulps, else the restatement check itself is flaky
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DECIMAL_TYPE)).alias("sum_value"),
        )

    old = partial(ev.filter(F.col("ts") < cutoff))
    new = partial(ev.filter(F.col("ts") >= cutoff))
    return (
        old.unionAll(new)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
        .select(
            "user_id", "event_type", "n_events",
            # the 6-decimal avg round sits BELOW the 5-decimal terminating
            # precision of (2-dec sum)/2^k, so it is an identity snap in
            # both engines; rounding AT the quotient's precision (4) would
            # sit exactly on half-way ties like 563.81/8 = 70.47625, where
            # Spark (HALF_UP on the shortest decimal repr) and DuckDB
            # (binary-value rounding) legitimately disagree.
            F.round("sum_value", 2).alias("total_value"),
            F.round(F.round("sum_value", 2) / F.col("n_events"), 6)
            .alias("avg_value"),
        )
    )


@query("q_gap_fill", oracle=_exact_sql("""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS hr,
         ROUND(sum(value), 4) AS hr_value
  FROM events WHERE user_id < 10
  GROUP BY user_id, hr
), spine AS (
  SELECT user_id, unnest(generate_series(min(hr), max(hr),
                         INTERVAL 1 HOUR)) AS hr
  FROM hourly GROUP BY user_id
)
SELECT s.user_id, s.hr,
       COALESCE(h.hr_value, 0.0)           AS hr_value,
       CASE WHEN h.hr_value IS NULL THEN 1 ELSE 0 END AS was_gap,
       last_value(h.hr_value IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.hr) AS carried_value
FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr
"""))
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill (resampling): build each
    user's dense hourly spine with ``sequence()`` + ``explode`` between
    their first and last active hour, left-join the actual hourly
    aggregate, and carry the last observed value across gaps with
    ``last(..., ignorenulls)`` over a user-partitioned window.

    The spine generates per-user (no global calendar table, no cross
    join with a date dimension): a user active for one day costs 24
    rows regardless of corpus span. All three shuffles key on user_id —
    co-partitioned — and the fill window is per-user, so the densified
    series parallelizes by user at any scale. Filtered to user_id < 10
    to keep the checked output compact; the plan is user-count
    invariant."""
    hourly = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.round(exact_sum("value"), 4).alias("hr_value"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("hr0"), F.max("hr").alias("hr1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("hr0", "hr1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    w = W.partitionBy("user_id").orderBy("hr")
    return (
        spine.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id", "hr",
            F.coalesce("hr_value", F.lit(0.0)).alias("hr_value"),
            F.when(F.col("hr_value").isNull(), 1).otherwise(0).alias("was_gap"),
            F.last("hr_value", ignorenulls=True).over(w).alias("carried_value"),
        )
    )


@query("q_attribution", oracle="""
WITH touched AS (
  SELECT event_type, ts,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch
  FROM events
),
attrib AS (
  SELECT COALESCE(touch, 'direct') AS touch_type,
         CAST(count(*) AS BIGINT) AS n_purchases
  FROM touched WHERE event_type = 'purchase'
  GROUP BY 1
),
tot AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS t FROM attrib)
SELECT a.touch_type, a.n_purchases,
       CAST((a.n_purchases * 1000000 + tot.t // 2) // tot.t AS BIGINT)
         AS share_ppm
FROM attrib a, tot
""")
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRECEDING non-purchase event (or 'direct' when the
    purchase is the user's first event) — the conversion-credit query
    behind every marketing/growth funnel report, and the third member
    of the event-analytics family (``q_funnel`` orders steps,
    ``q_retention_cohorts`` buckets lifetimes, this assigns credit).

    Scale shape: one per-user window (partitioned — never global) over
    (ts, event_id) computes the running last-non-purchase touch via
    ``last(..., ignorenulls)`` with an UNBOUNDED..1-PRECEDING frame, a
    single O(n) pass per partition; purchases then reduce through a
    map-side-combined count on the (≤ |event types|+1)-row touch key,
    and the share divisor broadcasts back. Total order (ts, event_id)
    makes the credit deterministic under timestamp ties, so the shares
    are integer-ppm hash-exact cross-engine."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touched = load(spark, sf_dir, "events").select(
        "event_type",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w).alias("touch"),
    )
    attrib = (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("direct")).alias("touch_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
    )
    tot = attrib.agg(F.sum("n_purchases").cast("bigint").alias("t"))
    return attrib.crossJoin(F.broadcast(tot)).select(
        "touch_type",
        "n_purchases",
        F.expr(
            "CAST((n_purchases * 1000000 + t DIV 2) DIV t AS BIGINT)"
        ).alias("share_ppm"),
    )


@query("q_concurrency", oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, sid,
         CAST(min(epoch_us(ts)) AS BIGINT) AS st,
         CAST(max(epoch_us(ts)) AS BIGINT) AS en
  FROM (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS sid
    FROM g
  )
  GROUP BY 1, 2
),
seg AS (
  SELECT s.user_id, s.sid, d.day,
         GREATEST(s.st, d.day * 86400000000)          AS t_on,
         LEAST(s.en, (d.day + 1) * 86400000000 - 1) + 1 AS t_off
  FROM sess s,
       LATERAL (SELECT unnest(range(s.st // 86400000000,
                                    s.en // 86400000000 + 1)) AS day) d
),
sweep AS (
  SELECT day, t, delta FROM (
    SELECT day, t_on AS t, 1 AS delta FROM seg
    UNION ALL
    SELECT day, t_off, -1 FROM seg
  )
),
run AS (
  SELECT day,
         sum(delta) OVER (PARTITION BY day ORDER BY t, delta) AS live
  FROM sweep
)
SELECT CAST(r.day AS BIGINT) AS day,
       CAST(n.n_sessions AS BIGINT) AS n_sessions,
       CAST(max(r.live) AS BIGINT)  AS max_concurrent
FROM run r
JOIN (SELECT day, count(*) AS n_sessions FROM seg GROUP BY day) n
  ON n.day = r.day
GROUP BY r.day, n.n_sessions
""")
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line interval
    aggregation behind capacity planning ("how many users at once?"):
    sessions (the ``q_sessionize`` 30-min-gap definition) become ±1
    boundary events in epoch-MICROS integers; a per-day running sum
    over (t, delta) is the live-session count and its max the daily
    peak. Sessions crossing midnight split into per-day segments
    (clipping cannot change instantaneous concurrency), which is what
    makes the sweep PARTITIONABLE — the classic fix for the global
    running sum this would otherwise need. Tie semantics are exact and
    engine-portable: the off event fires at en+1 µs (half-open), delta
    sorts -1 before +1 at equal t, and BOTH engines' default RANGE
    window frame gives tied peers one shared cumulative value, so the
    running sum is well-defined under ties without any float or
    nondeterministic row order.

    Scale shape: sessionize is the standard per-user lag+cumsum pass;
    segments explode by calendar-day span (bounded: sessions are
    gap-bounded, so almost always 1-2 days); the sweep shuffles ±1
    rows on the day key and each day's window is one sorted pass.
    Output is |days| rows."""
    from spark_ml_spark.api import sessionize

    ev = load(spark, sf_dir, "events")
    sess = (
        sessionize(ev, "user_id", "ts", "event_id", 1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("st"),
            F.max(F.unix_micros("ts")).alias("en"),
        )
    )
    day_us = 86400000000
    seg = sess.select(
        F.explode(
            F.sequence(
                (F.col("st") / day_us).cast("bigint"),
                (F.col("en") / day_us).cast("bigint"),
            )
        ).alias("day"),
        "st",
        "en",
    ).select(
        "day",
        F.greatest(F.col("st"), F.col("day") * day_us).alias("t_on"),
        (
            F.least(F.col("en"), (F.col("day") + 1) * day_us - 1) + 1
        ).alias("t_off"),
    )
    sweep = seg.select(
        "day", F.col("t_on").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        seg.select("day", F.col("t_off").alias("t"), F.lit(-1).alias("delta"))
    )
    # default (RANGE) frame on purpose: tied (t, delta) peers must share
    # one cumulative value in both engines
    run = sweep.withColumn(
        "live", F.sum("delta").over(W.partitionBy("day").orderBy("t", "delta"))
    )
    n = seg.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    return (
        run.groupBy("day")
        .agg(F.max("live").cast("bigint").alias("max_concurrent"))
        .join(n, "day")
        .select(
            F.col("day").cast("bigint").alias("day"),
            "n_sessions",
            "max_concurrent",
        )
    )


#: files per simulated layout in the skipping report
_SKIP_FILES = 64


def _skip_oracle() -> str:
    mort = _morton_sql("nx", "ny")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture;
    # append the two payload keys so any residual tie is between rows
    # identical in every referenced column — file stats are then
    # permutation-invariant and the rank is effectively total
    layouts = {
        "natural": "l_orderkey, l_linenumber, l_partkey, l_suppkey",
        "sorted_part": "l_partkey, l_suppkey, l_orderkey, l_linenumber",
        "zorder": "zval, l_partkey, l_suppkey, l_orderkey, l_linenumber",
    }
    unions = "\n  UNION ALL ".join(
        f"SELECT '{name}' AS layout, "
        f"(row_number() OVER (ORDER BY {order}) - 1) * {_SKIP_FILES} // n "
        f"AS f, l_partkey, l_suppkey FROM z"
        for name, order in layouts.items()
    )
    return f"""
WITH s AS (
  SELECT * FROM lineitem
  WHERE substr(md5('skip:' || CAST(l_orderkey AS VARCHAR) || ':'
               || CAST(l_linenumber AS VARCHAR) || ':'
               || CAST(l_partkey AS VARCHAR) || ':'
               || CAST(l_suppkey AS VARCHAR)), 1, 1) IN ('0', '1', '2')
),
b AS (
  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
         min(l_suppkey) AS mins, max(l_suppkey) AS maxs,
         CAST(count(*) AS BIGINT) AS n
  FROM s
),
z AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         minp, maxp, mins, maxs, n, {mort} AS zval
  FROM (
    SELECT l.*, b.*,
           CAST(FLOOR((l_partkey - minp) * 65536.0 / (maxp - minp + 1))
                AS BIGINT) AS nx,
           CAST(FLOOR((l_suppkey - mins) * 65536.0 / (maxs - mins + 1))
                AS BIGINT) AS ny
    FROM s l, b
  )
),
files AS (
  SELECT layout, f,
         min(l_partkey) AS fp_min, max(l_partkey) AS fp_max,
         min(l_suppkey) AS fs_min, max(l_suppkey) AS fs_max
  FROM ({unions})
  GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN fp_min <= b.minp + (b.maxp - b.minp) // 100
                      AND fp_max >= b.minp THEN 1 ELSE 0 END) AS BIGINT)
         AS part_hit_files,
       CAST(sum(CASE WHEN fs_min <= b.mins + (b.maxs - b.mins) // 100
                      AND fs_max >= b.mins THEN 1 ELSE 0 END) AS BIGINT)
         AS supp_hit_files,
       CAST((sum(fp_max - fp_min + 1) * 1000000
             + (count(*) * (b.maxp - b.minp + 1)) // 2)
            // (count(*) * (b.maxp - b.minp + 1)) AS BIGINT)
         AS part_span_ppm,
       CAST((sum(fs_max - fs_min + 1) * 1000000
             + (count(*) * (b.maxs - b.mins + 1)) // 2)
            // (count(*) * (b.maxs - b.mins + 1)) AS BIGINT)
         AS supp_span_ppm
FROM files, b
GROUP BY layout, b.minp, b.maxp, b.mins, b.maxs
"""


@query("q_skipping_report", oracle=_skip_oracle())
def q_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness report: simulate writing lineitem as
    64 equal-row files under three layouts — arrival order ('natural'),
    1-D sort on l_partkey, and z-order on (l_partkey, l_suppkey) — and
    measure, from per-file min/max statistics alone (what parquet
    row-group footers give a scan planner), how many files a 1%-band
    point-range predicate on EACH key must touch, plus the mean
    per-file key-span (ppm of domain — tight spans ARE skippability).
    The quantified version of q_zorder_layout's claim: the 1-D sort
    wins its own column and is useless for the other; z-order stays
    tight on BOTH.

    Scale shape: file assignment uses ``api.grouped_rank`` over the
    exploded (layout, sort-key) rows — ONE range repartition +
    two-phase offset for all three layouts (the exact dataflow of the
    ``repartitionByRange().sortWithinPartitions()`` production write,
    and rank over a total order is invariant to partitioner sampling,
    so results are deterministic); per-file stats are one
    map-side-combined aggregation per layout over (layout, file) keys;
    the final report is |layouts|·|files| rows folding to |layouts|.
    Bounds ride a 1-row broadcast. Everything integer, rounded integer
    division for the ppm spans."""
    from spark_ml_spark.api import grouped_rank

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    # deterministic ~19% row sample (md5 gate, the q_stratified_sample
    # discipline): the report is a layout ESTIMATE — simulating three
    # physical layouts costs three full sorts, and sorting a fixed
    # sample measures the same per-file span/prunability statistics at
    # a fifth of the volume (production row-group audits sample the
    # same way); the oracle applies the identical gate
    li = li.filter(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit("skip"),
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.col("l_partkey").cast("string"),
                    F.col("l_suppkey").cast("string"),
                )
            ),
            1,
            1,
        ).isin("0", "1", "2")
    )
    # two consumers (the bounds aggregate and the layout explode below)
    # — persist the 4-column sample once
    li = li.persist()
    b = li.agg(
        F.min("l_partkey").alias("minp"), F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"), F.max("l_suppkey").alias("maxs"),
    )
    n = li.crossJoin(F.broadcast(b)).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        F.floor((F.col("l_partkey") - F.col("minp")) * 65536.0
                / (F.col("maxp") - F.col("minp") + 1)).alias("nx"),
        F.floor((F.col("l_suppkey") - F.col("mins")) * 65536.0
                / (F.col("maxs") - F.col("mins") + 1)).alias("ny"),
    )
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright("nx", i).bitwiseAND(F.lit(1)), 2 * i)
        )
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright("ny", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    # ONE rank machine for all three layouts (r12 optimization, guide
    # §2.4): the former per-layout global_rank ran three independent
    # range exchanges (each with its own sampling pass, persist, window
    # and offsets join) over the same sampled rows. Instead, explode
    # each row into its three (layout, k1..k5) sort-key tuples — a pure
    # in-row projection, no shuffle — and rank once with grouped_rank
    # over ``layout``: within a layout the padded key tuple induces the
    # exact same total order as the per-layout sort columns did, so
    # every rank (and file assignment) is bit-identical, through one
    # range exchange over 3x the narrow rows instead of three machines.
    zdf = n.withColumn("zval", z)

    def b64(c: str) -> F.Column:
        return F.col(c).cast("bigint")

    zero = F.lit(0).cast("bigint")
    lay = F.explode(F.array(
        F.struct(F.lit("natural").alias("layout"),
                 b64("l_orderkey").alias("k1"),
                 b64("l_linenumber").alias("k2"),
                 b64("l_partkey").alias("k3"),
                 b64("l_suppkey").alias("k4"),
                 zero.alias("k5")),
        F.struct(F.lit("sorted_part").alias("layout"),
                 b64("l_partkey").alias("k1"),
                 b64("l_suppkey").alias("k2"),
                 b64("l_orderkey").alias("k3"),
                 b64("l_linenumber").alias("k4"),
                 zero.alias("k5")),
        F.struct(F.lit("zorder").alias("layout"),
                 b64("zval").alias("k1"),
                 b64("l_partkey").alias("k2"),
                 b64("l_suppkey").alias("k3"),
                 b64("l_orderkey").alias("k4"),
                 b64("l_linenumber").alias("k5")),
    )).alias("L")
    keyed = zdf.select(lay, "l_partkey", "l_suppkey").select(
        "L.layout", "L.k1", "L.k2", "L.k3", "L.k4", "L.k5",
        "l_partkey", "l_suppkey",
    )
    ranked = grouped_rank(
        keyed, ["layout"], ["k1", "k2", "k3", "k4", "k5"],
        rank_col="grank", total_col="n_total",
    )
    per_file = (
        ranked.select(
            "layout",
            F.expr(f"(grank - 1) * {_SKIP_FILES} DIV n_total").alias("f"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("layout", "f")
        .agg(
            F.min("l_partkey").alias("fp_min"),
            F.max("l_partkey").alias("fp_max"),
            F.min("l_suppkey").alias("fs_min"),
            F.max("l_suppkey").alias("fs_max"),
        )
    )
    return (
        per_file.crossJoin(F.broadcast(b))
        .groupBy("layout", "minp", "maxp", "mins", "maxs")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(
                (
                    (F.col("fp_min")
                     <= F.col("minp") + (F.col("maxp") - F.col("minp")) / 100)
                    & (F.col("fp_max") >= F.col("minp"))
                ).cast("bigint")
            ).cast("bigint").alias("part_hit_files"),
            F.sum(
                (
                    (F.col("fs_min")
                     <= F.col("mins") + (F.col("maxs") - F.col("mins")) / 100)
                    & (F.col("fs_max") >= F.col("mins"))
                ).cast("bigint")
            ).cast("bigint").alias("supp_hit_files"),
            F.expr(
                f"CAST((sum(fp_max - fp_min + 1) * 1000000"
                f" + (count(*) * (maxp - minp + 1)) DIV 2)"
                f" DIV (count(*) * (maxp - minp + 1)) AS BIGINT)"
            ).alias("part_span_ppm"),
            F.expr(
                f"CAST((sum(fs_max - fs_min + 1) * 1000000"
                f" + (count(*) * (maxs - mins + 1)) DIV 2)"
                f" DIV (count(*) * (maxs - mins + 1)) AS BIGINT)"
            ).alias("supp_span_ppm"),
        )
        .select(
            "layout", "n_files", "part_hit_files", "supp_hit_files",
            "part_span_ppm", "supp_span_ppm",
        )
    )


@query("q_full_outer_join", oracle="""
WITH a AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
),
b AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT COALESCE(a.k, b.k)          AS k,
       COALESCE(a.n_orders, 0)    AS n_orders,
       COALESCE(b.n_events, 0)    AS n_events,
       CASE WHEN a.k IS NULL THEN 'events_only'
            WHEN b.k IS NULL THEN 'orders_only'
            ELSE 'both' END       AS presence
FROM a FULL OUTER JOIN b ON a.k = b.k
""")
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J+: FULL OUTER reconciliation — the join type the rest of the
    suite's star/semi/anti coverage lacks, in its canonical warehouse
    role: reconcile two independently-derived per-entity aggregates
    (order activity vs event activity) and classify every entity as
    present in one, the other, or both. The null channels ARE the
    payload: ``orders_only``/``events_only`` rows are the
    reconciliation exceptions downstream jobs act on.

    Scale shape: both inputs pre-aggregate to one row per key BEFORE
    the join (map-side combine absorbs the fact-table volume), so the
    full-outer sort-merge join exchanges only entity-level rows. A
    full outer join can never broadcast (both sides must surface
    unmatched rows) — pre-aggregation is exactly what keeps its
    shuffle entity-sized, not fact-sized, at 100 TB. AQE handles any
    residual key skew."""
    a = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    b = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    joined = a.withColumnRenamed("k", "ak").join(
        b.withColumnRenamed("k", "bk"),
        F.col("ak") == F.col("bk"),
        "full_outer",
    )
    return joined.select(
        F.coalesce("ak", "bk").alias("k"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("ak").isNull(), "events_only")
        .when(F.col("bk").isNull(), "orders_only")
        .otherwise("both")
        .alias("presence"),
    )


@query("q_scd2_intervals", oracle="""
WITH c AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
chg AS (
  SELECT user_id, ts, event_id, event_type
  FROM c WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id,
       event_type,
       CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
       CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
         AS valid_to_us
FROM chg
""")
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build — the dimension-versioning complement of
    ``q_upsert_latest`` (SCD-1): collapse each entity's attribute
    stream (here: a user's event_type) into validity intervals
    ``[valid_from, valid_to)``, keeping only CHANGE points (runs of the
    same value merge into one interval; the open current version has
    NULL valid_to). This is the gap-islands intervalization every
    warehouse dimension-history load runs.

    Scale shape: two windows over the same (user_id, ts, event_id)
    partitioning — Catalyst plans ONE exchange + sort reused by both
    (lag to find change points, lead over the filtered change rows for
    interval ends); state per key is one row of lookback, no
    self-join, no explode. Interval bounds are exact epoch
    MICROSECONDS (the ``q_stream_session_window`` discipline — whole-
    second casts round vs truncate differently across engines)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    return chg.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("valid_to_us"),
    )


#: salt fan-out for the skew-mitigation join demo — production sizes
#: this to ceil(hot-key rows / target partition rows)
_SALT_S = 8


@query("q_salted_join", oracle="""
SELECT c.c_mktsegment                       AS mktsegment,
       CAST(count(*) AS BIGINT)             AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""")
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J+ skew mitigation: the SALTED JOIN pattern, result-checked
    against the plain join (the oracle runs the unsalted SQL — equality
    IS the correctness proof of the rewrite). The fact side adds a
    deterministic salt (event_id % S); the dimension side replicates
    each row into all S salt values; the join key becomes
    (user_id, salt), splitting every hot key's rows across S shuffle
    partitions. A ``merge`` hint forces the sort-merge path so the plan
    genuinely exchanges by the salted key — at fixture scale Catalyst
    would otherwise broadcast the dim and the demo would show nothing.

    Scale shape: this is the mitigation ``q_skew_profile`` triggers
    when AQE's skew-join split isn't available (e.g. the skewed side
    feeds a window) — the dim side grows S×, the fact side not at all,
    and each shuffle partition's share of a hot key drops to 1/S. The
    aggregation's distinct counts re-shuffle by the ORIGINAL key, so
    results are provably salt-invariant."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        (F.col("event_id") % _SALT_S).alias("salt"),
    )
    dim = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .select(
            "c_custkey", "c_mktsegment",
            F.explode(F.array(*[F.lit(i) for i in range(_SALT_S)]))
            .alias("salt"),
        )
    )
    joined = ev.join(
        dim.hint("merge"),
        (ev.user_id == dim.c_custkey) & (ev.salt == dim.salt),
    )
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


@query("q_window_distribution", oracle=r"""
WITH nat AS (
  SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nat,
         CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
              // count(*) AS BIGINT) AS avg_bal_cents
  FROM customer GROUP BY 1, 2
)
SELECT seg, nat, avg_bal_cents,
       ROUND(percent_rank() OVER w, 4) AS pct_rank,
       ROUND(cume_dist() OVER w, 4) AS cume_dist,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM nat
WINDOW w AS (PARTITION BY seg ORDER BY avg_bal_cents, nat)
ORDER BY seg, nat
""")
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard distribution window functions in one readout —
    ``percent_rank``, ``cume_dist``, ``ntile(4)`` — ranking nations by
    average customer balance within each market segment (completes the
    window family next to ``q_window_rank``'s rank/dense_rank and
    ``q_sql_window_ntile``).

    Scale shape: the window runs on the AGGREGATED (segment × nation)
    grain — a bounded ≤125-row table produced by one map-side-combined
    corpus aggregate — never on corpus-sized partitions (sort-based
    distribution functions over raw rows are the scale-killer this
    formulation avoids; a raw-row percentile ask routes to
    ``api.global_rank`` / ``q_percentiles`` instead). The average is
    an exact integer division of BIGINT cents; the two distribution
    ratios are exact small-n rationals, identical cross-engine."""
    nat = (
        load(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").cast("bigint").alias("nat"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))"
                " DIV count(*) AS BIGINT)"
            ).alias("avg_bal_cents")
        )
    )
    w = W.partitionBy("seg").orderBy("avg_bal_cents", "nat")
    return nat.select(
        "seg",
        "nat",
        "avg_bal_cents",
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume_dist"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    ).orderBy("seg", "nat")


@query("q_histogram_2d", oracle=r"""
SELECT CAST(floor(l_quantity / 10.0) AS BIGINT) AS qty_bin,
       -- CAST before //: DuckDB's // on DOUBLE rounds (3.0 // 2 = 2),
       -- only integer // floors like Spark's DIV
       CAST(CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) // 2
            AS BIGINT) AS disc_bin,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0
                           + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
GROUP BY 1, 2
ORDER BY qty_bin, disc_bin
""")
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint 2-D histogram (heatmap grid): line items binned on
    DOMAIN-FIXED quantity bands (width 10) × discount bands (2 cents of
    rate), with count and exact revenue per cell — the joint view that
    reveals the qty×discount interaction ``q_histogram``'s marginals
    average away (and the exact input a BI heatmap or a 2-D
    independence test consumes).

    Scale shape: bins are arithmetic on domain constants (never a
    data-dependent pre-scan), so this is ONE map-side-combined hash
    aggregate to a grid bounded by the bin domains (~6×6 cells) at any
    corpus size; discount quantizes through integer cents to dodge
    float-edge binning."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / F.lit(10.0))
            .cast("bigint")
            .alias("qty_bin"),
            F.expr(
                "CAST(CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)"
                " DIV 2 AS BIGINT)"
            ).alias("disc_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * F.lit(100.0)
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("qty_bin", "disc_bin")
    )
