"""The round-10 reopening wave: eight REOPENING.md candidates, staged
under the r6-r9 registration freeze and REGISTERED since r10.

History: the freeze (VERDICT r8 #5) barred new registrations until a
clean r9 grade drained the never-graded backlog. This module therefore
spent r9 as a staging area — fully implemented to the house standard
(DuckDB oracle SQL, integer micro-unit quantization, scale-shape
docstrings), oracle-green at three fixture scales, but deliberately
absent from ``registry._OPERATOR_MODULES``. CORRECTNESS_r09 landed
clean (backlog 0), so r10 flipped registration on: the module joined
``_OPERATOR_MODULES`` and the ``STAGED`` loop at the bottom registers
every entry (349 -> 357). ``tests/test_staged_r10.py`` keeps the
pre-flip oracle-differential tests AND now pins the registered state.

The first two entries retire two of the 14 rows-only queries' caveats
(VERDICT r8 #6): each turns an engine-specific sketch into an
oracle-checkable ERROR-BOUND CONTRACT — Spark computes both the sketch
and its published accuracy bound in one plan and emits booleans; the
oracle recomputes the exact side and emits the contract rows, so the
driver's hash compare proves the sketch met its bound (the
``q_simhash_portable`` / ``q_minhash_native`` pattern).

The reference has none of these (``Data_transform.py`` passim);
siblings: ``q_approx_percentiles``, ``q_approx_count_distinct``,
``q_percentiles``, ``q_weighted_median``, ``q_salted_agg``,
``q_semi_additive_agg``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from spark_ml_spark.io.sources import fixture_key, load, relay

#: approx_percentile accuracy parameter; published rank-error bound is
#: eps = 1/accuracy (Spark docs: ApproximatePercentile guarantees a
#: returned value whose rank is within floor(eps*N) of the target rank)
_PCT_ACCURACY = 1000
_PCT_PPM = (250000, 500000, 750000, 950000)

#: approx_count_distinct relative standard deviation; the audit checks
#: the 5-sigma bound |approx - exact| <= 5 * rsd * exact. rsd is a
#: STANDARD DEVIATION, not a hard guarantee (unlike approx_percentile's
#: rank bound): at 3 sigma a legitimately unlucky estimate fails
#: ~0.3%/column/round on driver-regenerated fixtures with no code bug;
#: at 5 sigma the flake probability is ~6e-7/column — negligible over
#: the build's lifetime (ADVICE r9)
_HLL_RSD = 0.02
_HLL_SIGMA = 5.0
_HLL_COLS = ("l_orderkey", "l_partkey", "l_suppkey")

_WQ_PPM = (250000, 500000, 750000, 900000, 990000)
_DS_BUCKETS = 96


def q_approx_percentiles_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-error-bound audit for ``approx_percentile`` (REOPENING #1):
    for each target percentile p, compute the sketch value v AND v's
    exact rank interval (#rows < v, #rows <= v] in the same plan, and
    emit whether that interval intersects the published tolerance
    [floor((p-eps)*n), ceil((p+eps)*n)], eps = 1/accuracy. The oracle
    recomputes n
    and emits the contract row (pct_ppm, n, TRUE) — a hash match proves
    the sketch met its bound, which de-caveats the rows-only
    ``q_approx_percentiles`` twin.

    Scale shape: two map-side-combined passes over the price column —
    one for (sketch array, n), one for the per-probe rank counters
    against the 4-row broadcast probe table. No sort, no window, no
    collect."""
    pc = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("bigint").alias("pc")
    )
    ps = [p / 1_000_000.0 for p in _PCT_PPM]
    sketch = pc.agg(
        F.percentile_approx(
            "pc", F.array(*[F.lit(p) for p in ps]), F.lit(_PCT_ACCURACY)
        ).alias("vs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    probes = sketch.select(
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(int(p)).cast("bigint") for p in _PCT_PPM])
                .alias("pct_ppm"),
                F.col("vs").alias("v"),
            )
        ).alias("z"),
    ).select("n", F.col("z.pct_ppm").alias("pct_ppm"), F.col("z.v").alias("v"))
    eps_ppm = 1_000_000 // _PCT_ACCURACY
    counts = (
        pc.join(F.broadcast(probes))
        .groupBy("pct_ppm", "n")
        .agg(
            F.sum((F.col("pc") <= F.col("v")).cast("bigint")).alias("c_le"),
            F.sum((F.col("pc") < F.col("v")).cast("bigint")).alias("c_lt"),
        )
    )
    # the published guarantee (ApproximatePercentile): rank(v) lies in
    # the closed integer interval [floor((p-eps)*N), ceil((p+eps)*N)].
    # v occupies ranks (c_lt, c_le], which intersects it iff
    # c_le >= floor(lo) AND c_lt < ceil(hi) — STRICT on the upper edge:
    # c_lt == ceil(hi) puts v's entire rank range above the bound
    # (self-review r9: the earlier <= admitted a one-rank miss).
    # Both edges in EXACT bigint arithmetic via ppm-scaled DIV — a
    # double round of (p±eps)*N landing 1 ulp across an integer could
    # shift an edge by one rank and fail a graded round on the boundary
    # (ADVICE r9). floor((p-eps)*N) = (pct_ppm-eps_ppm)*N DIV 1e6 (both
    # factors non-negative); ceil((p+eps)*N) = ((pct_ppm+eps_ppm)*N +
    # 999999) DIV 1e6. Products stay inside int64 to N ~ 9e12 rows.
    lo_rank = F.expr(
        f"((pct_ppm - {eps_ppm}) * n) div 1000000"
    )
    hi_rank = F.expr(
        f"((pct_ppm + {eps_ppm}) * n + 999999) div 1000000"
    )
    within = (F.col("c_le") >= lo_rank) & (F.col("c_lt") < hi_rank)
    return counts.select(
        "pct_ppm", "n", within.alias("within_bound")
    ).orderBy("pct_ppm")


ORACLE_APPROX_PERCENTILES_AUDIT = rf"""
SELECT CAST(p.pct_ppm AS BIGINT) AS pct_ppm,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n,
       TRUE AS within_bound
FROM (VALUES {", ".join(f"({p})" for p in _PCT_PPM)}) p(pct_ppm)
ORDER BY pct_ppm
"""


def q_hll_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-error-bound audit for ``approx_count_distinct``
    (REOPENING #2): per key column, the exact distinct count (which the
    oracle co-verifies) and whether the HLL++ estimate at rsd=0.02 sits
    within the 5-sigma bound |approx - exact| <= 5*rsd*exact (5 rather
    than 3 because rsd is statistical, not a guarantee — see
    ``_HLL_SIGMA``; ADVICE r9). A hash match proves the sketch met its
    published accuracy, de-caveating the rows-only
    ``q_approx_count_distinct`` twin.

    Scale shape: one DISTINCT-first branch per column (a map-side-
    combined dedup shuffle of ~|distinct| rows, then a 1-row agg where
    exact = count(*) and the HLL runs over the deduped values — HLL is
    duplicate-insensitive, so its estimate is bit-identical to running
    over the raw column), unioned into 3 rows. This shape replaced a
    single 6-aggregate pass whose mixed per-column DISTINCTs forced a
    3x Expand of the fact table through the hash aggregate (measured
    5.2s vs ~1s at sf0.1) — the distinct-first branches shuffle only
    distinct values and each scan prunes to one column."""
    li = load(spark, sf_dir, "lineitem")
    parts = []
    for c in _HLL_COLS:
        # NULL-equivalence with the oracle's count(DISTINCT c), which
        # excludes NULLs — count(lit(1)) over distinct() would count a
        # NULL key as one value if a fixture ever carried one
        # (ADVICE r10 #2; safe today, lineitem keys are non-null)
        d = (
            li.select(F.col(c).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
        )
        parts.append(
            d.agg(
                F.count(F.lit(1)).cast("bigint").alias("exact_distinct"),
                F.approx_count_distinct("v", _HLL_RSD).alias("approx"),
            ).select(F.lit(c).alias("key_column"), "exact_distinct", "approx")
        )
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.union(p)
    return rows.select(
        "key_column",
        "exact_distinct",
        (
            F.abs(F.col("approx").cast("double")
                  - F.col("exact_distinct").cast("double"))
            <= F.lit(_HLL_SIGMA * _HLL_RSD)
            * F.col("exact_distinct").cast("double")
        ).alias("within_5sigma"),
    ).orderBy("key_column")


ORACLE_HLL_ERROR_AUDIT = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS key_column,"
    f" CAST(count(DISTINCT {c}) AS BIGINT) AS exact_distinct,"
    f" TRUE AS within_5sigma FROM lineitem"
    for c in _HLL_COLS
) + "\nORDER BY key_column"


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-weighted average (REOPENING #3): per
    event type, each observation's value holds until the next
    observation of the same type (LOCF semantics), weighted by that
    holding duration in microseconds; the final observation has no
    duration and is excluded, and a type with ZERO covered time (every
    event on one microsecond) is dropped rather than divided by zero
    (self-review r9: Spark's NaN→bigint cast and DuckDB's NaN cast
    error would otherwise diverge). Emits the interval count, total
    covered microseconds, and the time-weighted mean in value-micro
    units.

    Scale shape: one window sort-shuffle partitioned by the natural key
    (event_type) with a unique tiebreaker, then a map-side-combined
    group-by. The weighted sum accumulates in DECIMAL(38,0) via
    DECIMAL(18,0) products (value-micros * duration-micros reaches
    ~1e21 per row — past int64 — and ~1e33 at the 100 TB target, inside
    decimal-38), so the sum is exact and run-order-free on both
    engines; only the final per-group ratio drops to double, where both
    engines divide the same exact integers."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 1_000_000.0 + F.lit(0.5))
        .cast("bigint").alias("v_us"),
        "event_id",
    )
    w = W.partitionBy("event_type").orderBy("ts_us", "event_id")
    seq = ev.withColumn("next_us", F.lead("ts_us").over(w)).where(
        F.col("next_us").isNotNull()
    )
    dur = (F.col("next_us") - F.col("ts_us"))
    g = seq.select(
        "event_type",
        dur.alias("dur_us"),
        (
            F.col("v_us").cast("decimal(18,0)")
            * dur.cast("decimal(18,0)")
        ).alias("wv"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.sum("wv").alias("wv_sum"),
    ).where(
        # zero covered time (every interval zero-width: all events of a
        # type share one microsecond) has no time-weighted mean — drop
        # the group rather than divide by zero, where Spark's NaN→bigint
        # cast (0) and DuckDB's NaN cast (error) would diverge
        # (self-review r9)
        F.col("total_dur_us") > 0
    )
    return g.select(
        "event_type",
        "n_intervals",
        "total_dur_us",
        F.floor(
            F.col("wv_sum").cast("double")
            / F.col("total_dur_us").cast("double")
            + F.lit(0.5)
        ).cast("bigint").alias("twa_value_micros"),
    ).orderBy("event_type")


ORACLE_TIME_WEIGHTED_AVG = r"""
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) AS ts_us,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_us,
         lead(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts), event_id
         ) AS next_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(next_us - ts_us) AS BIGINT) AS total_dur_us,
       CAST(floor(
         CAST(sum(CAST(v_us AS HUGEINT) * (next_us - ts_us)) AS DOUBLE)
         / CAST(sum(next_us - ts_us) AS DOUBLE) + 0.5
       ) AS BIGINT) AS twa_value_micros
FROM seq
WHERE next_us IS NOT NULL
GROUP BY event_type
HAVING sum(next_us - ts_us) > 0
ORDER BY event_type
"""


def q_minmax_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max chart downsampling (REOPENING #4, the oracle-able cousin
    of LTTB): the event-time range splits into a fixed number of equal
    buckets; each bucket emits its minimum and maximum value with a
    deterministic representative timestamp (EARLIEST for the min,
    LATEST for the max — the lexicographic struct min/max, stated
    contract). Output is bounded at 2*buckets rows regardless of input
    size — the property that makes it a downsampler.

    Scale shape: one 1-row min/max range aggregate broadcast back, then
    one map-side-combined group-by on the bucket id (struct min/max
    aggregates merge associatively); all integer arithmetic
    (micro-epoch * bucket-count DIV span — no float bucket edges to
    diverge cross-engine)."""
    ev = load(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 1_000_000.0 + F.lit(0.5))
        .cast("bigint").alias("v_us"),
    )
    rng = ev.agg(
        F.min("ts_us").alias("lo"),
        (F.max("ts_us") - F.min("ts_us") + F.lit(1)).alias("span"),
    )
    b = ev.crossJoin(F.broadcast(rng)).select(
        F.expr(f"(ts_us - lo) * {_DS_BUCKETS} DIV span").alias("bucket"),
        "v_us",
        "ts_us",
    )
    g = b.groupBy("bucket").agg(
        F.min(F.struct("v_us", "ts_us")).alias("mn"),
        F.max(F.struct("v_us", "ts_us")).alias("mx"),
    )
    rows = g.select(
        "bucket",
        F.explode(
            F.array(
                F.struct(
                    F.lit("min").alias("kind"),
                    F.col("mn.v_us").alias("value_micros"),
                    F.col("mn.ts_us").alias("ts_us"),
                ),
                F.struct(
                    F.lit("max").alias("kind"),
                    F.col("mx.v_us").alias("value_micros"),
                    F.col("mx.ts_us").alias("ts_us"),
                ),
            )
        ).alias("s"),
    )
    return rows.select(
        "bucket", "s.kind", "s.value_micros", "s.ts_us"
    ).orderBy("bucket", "kind")


ORACLE_MINMAX_DOWNSAMPLE = rf"""
WITH b AS (
  SELECT (epoch_us(ts) - (SELECT min(epoch_us(ts)) FROM events))
           * {_DS_BUCKETS}
           // ((SELECT max(epoch_us(ts)) FROM events)
               - (SELECT min(epoch_us(ts)) FROM events) + 1) AS bucket,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_us,
         epoch_us(ts) AS ts_us
  FROM events
),
g AS (
  SELECT bucket, min(v_us) AS vmin, max(v_us) AS vmax
  FROM b GROUP BY bucket
),
mn AS (
  SELECT b.bucket, 'min' AS kind, b.v_us AS value_micros,
         CAST(min(b.ts_us) AS BIGINT) AS ts_us
  FROM b JOIN g ON g.bucket = b.bucket AND b.v_us = g.vmin
  GROUP BY b.bucket, b.v_us
),
mx AS (
  SELECT b.bucket, 'max' AS kind, b.v_us AS value_micros,
         CAST(max(b.ts_us) AS BIGINT) AS ts_us
  FROM b JOIN g ON g.bucket = b.bucket AND b.v_us = g.vmax
  GROUP BY b.bucket, b.v_us
)
SELECT CAST(bucket AS BIGINT) AS bucket, kind, value_micros, ts_us
FROM (SELECT * FROM mn UNION ALL SELECT * FROM mx)
ORDER BY bucket, kind
"""


def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostics (REOPENING #5): the per-key row-count
    distribution of lineitem's join key (l_orderkey) summarized as the
    metrics that decide salting / AQE-skew settings BEFORE a 100 TB
    join: key and row counts, max and percentile per-key sizes, the
    p99/p50 ratio, the top-1 key's row share, and the Gini coefficient
    of the key distribution — all in parts-per-million integer units.

    Scale shape: one map-side-combined count per key, exact percentiles
    over the (much smaller) per-key count table, and the Gini rank term
    via the repo's two-phase ``global_rank`` (range partition + local
    rank + broadcast offsets — no single-partition window); the rank
    product accumulates in DECIMAL(38,0) (rank*count reaches ~1e23 at
    target scale, past int64)."""
    from spark_ml_spark.api import global_rank

    cnt = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ranked = global_rank(cnt, ["c", "l_orderkey"], rank_col="i",
                         total_col="nk")
    stats = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_c"),
        F.expr("percentile(c, array(0.5D, 0.99D))").alias("pcts"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
        ).alias("ic_sum"),
    ).select(
        "n_keys", "n_rows", "max_c",
        F.col("pcts")[0].alias("p50"),
        F.col("pcts")[1].alias("p99"),
        "ic_sum",
    )
    nk = F.col("n_keys").cast("double")
    nr = F.col("n_rows").cast("double")
    gini = (
        F.lit(2.0) * F.col("ic_sum").cast("double") - (nk + F.lit(1.0)) * nr
    ) / (nk * nr)
    metrics = stats.select(
        F.explode(
            F.array(
                F.struct(F.lit("n_rows").alias("metric"),
                         F.col("n_rows").alias("value")),
                F.struct(F.lit("n_keys").alias("metric"),
                         F.col("n_keys").alias("value")),
                F.struct(F.lit("max_key_rows").alias("metric"),
                         F.col("max_c").alias("value")),
                F.struct(
                    F.lit("p50_key_rows").alias("metric"),
                    F.floor(F.col("p50") + F.lit(0.5))
                    .cast("bigint").alias("value"),
                ),
                F.struct(
                    F.lit("p99_key_rows").alias("metric"),
                    F.floor(F.col("p99") + F.lit(0.5))
                    .cast("bigint").alias("value"),
                ),
                F.struct(
                    F.lit("p99_over_p50_ppm").alias("metric"),
                    F.floor(
                        F.col("p99") / F.col("p50") * F.lit(1_000_000.0)
                        + F.lit(0.5)
                    ).cast("bigint").alias("value"),
                ),
                F.struct(
                    F.lit("top1_share_ppm").alias("metric"),
                    F.floor(
                        F.col("max_c").cast("double") / nr
                        * F.lit(1_000_000.0) + F.lit(0.5)
                    ).cast("bigint").alias("value"),
                ),
                F.struct(
                    F.lit("gini_ppm").alias("metric"),
                    F.floor(gini * F.lit(1_000_000.0) + F.lit(0.5))
                    .cast("bigint").alias("value"),
                ),
            )
        ).alias("s")
    )
    return metrics.select("s.metric", "s.value").orderBy("metric")


ORACLE_JOIN_SKEW_REPORT = r"""
WITH cnt AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_orderkey
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c, l_orderkey) AS i FROM cnt
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(max(c) AS BIGINT) AS max_c,
         quantile_cont(c, 0.5) AS p50,
         quantile_cont(c, 0.99) AS p99,
         sum(CAST(i AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS ic_sum
  FROM ranked
)
SELECT metric, value FROM (
  SELECT 'n_rows' AS metric, n_rows AS value FROM s
  UNION ALL SELECT 'n_keys', n_keys FROM s
  UNION ALL SELECT 'max_key_rows', max_c FROM s
  UNION ALL SELECT 'p50_key_rows',
    CAST(floor(p50 + 0.5) AS BIGINT) FROM s
  UNION ALL SELECT 'p99_key_rows',
    CAST(floor(p99 + 0.5) AS BIGINT) FROM s
  UNION ALL SELECT 'p99_over_p50_ppm',
    CAST(floor(p99 / p50 * 1000000.0 + 0.5) AS BIGINT) FROM s
  UNION ALL SELECT 'top1_share_ppm',
    CAST(floor(CAST(max_c AS DOUBLE) / n_rows * 1000000.0 + 0.5)
         AS BIGINT) FROM s
  UNION ALL SELECT 'gini_ppm',
    CAST(floor((2.0 * CAST(ic_sum AS DOUBLE)
                - (n_keys + 1.0) * n_rows)
               / (CAST(n_keys AS DOUBLE) * n_rows) * 1000000.0 + 0.5)
         AS BIGINT) FROM s
)
ORDER BY metric
"""


def q_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quantiles (REOPENING #6): the lower weighted quantile of
    lineitem price (cents) weighted by quantity — the smallest value v
    whose cumulative weight reaches p * total_weight. Complements the
    scalar ``q_weighted_median`` with a full quantile vector.

    Scale shape: per-value weight aggregation first (the cumulative
    scan runs over DISTINCT values, not rows), then
    ``api.global_prefix_sum`` — the two-phase range-partition prefix
    sum extracted from this query's first draft (self-review r9: no
    second inline copy of ``global_rank``'s offset machinery) — so no
    single-partition window anywhere. The probe lookup filters the
    <=|probes| CROSSING rows first (cumulative weight is strictly
    increasing over distinct values, so each probe has exactly one)
    and explodes the probe vector over those survivors only — not the
    whole cumulative table (self-review r10). The threshold compare
    runs in DECIMAL (cumweight*1e6 reaches ~1e21 at the 100 TB
    target, past int64)."""
    from spark_ml_spark.api import global_prefix_sum

    byv = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
            .cast("bigint").alias("v"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
        .groupBy("v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    cum = global_prefix_sum(
        byv, ["v"], "w", cum_col="cumw", total_col="tot"
    ).select("v", "w", "cumw", "tot")

    def crosses(p):
        # the unique crossing row for probe p: cumw is STRICTLY
        # increasing over distinct v (quantity >= 1), so "min v with
        # cumw >= p*tot" is exactly the row whose exclusive prefix
        # (cumw - w) is still below the threshold
        c = F.col("cumw").cast("decimal(19,0)") * F.lit(1_000_000)
        prev = (F.col("cumw") - F.col("w")).cast("decimal(19,0)") \
            * F.lit(1_000_000)
        thr = F.lit(int(p)).cast("decimal(19,0)") \
            * F.col("tot").cast("decimal(19,0)")
        return (c >= thr) & (prev < thr)

    # filter the <=|probes| crossing rows FIRST (whole-stage-codegen
    # predicate), THEN explode the probe vector over the survivors —
    # the first draft exploded the full cumulative table |probes|x and
    # re-aggregated millions of rows to find the same <=5 minima
    # (self-review r10)
    any_cross = crosses(_WQ_PPM[0])
    for p in _WQ_PPM[1:]:
        any_cross = any_cross | crosses(p)
    probes = F.array(*[F.lit(int(p)).cast("bigint") for p in _WQ_PPM])
    hit = cum.where(any_cross).select(
        "v", "w", "cumw", "tot", F.explode(probes).alias("pct_ppm")
    ).where(
        (F.col("cumw").cast("decimal(19,0)") * F.lit(1_000_000)
         >= F.col("pct_ppm").cast("decimal(19,0)")
         * F.col("tot").cast("decimal(19,0)"))
        & ((F.col("cumw") - F.col("w")).cast("decimal(19,0)")
           * F.lit(1_000_000)
           < F.col("pct_ppm").cast("decimal(19,0)")
           * F.col("tot").cast("decimal(19,0)"))
    )
    return hit.select(
        "pct_ppm", F.col("v").cast("bigint").alias("value_cents")
    ).orderBy("pct_ppm")


ORACLE_WEIGHTED_QUANTILE = rf"""
WITH byv AS (
  SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT v,
         sum(w) OVER (ORDER BY v) AS cumw,
         (SELECT sum(w) FROM byv) AS tot
  FROM byv
)
SELECT CAST(p.pct_ppm AS BIGINT) AS pct_ppm,
       CAST(min(c.v) AS BIGINT) AS value_cents
FROM (VALUES {", ".join(f"({p})" for p in _WQ_PPM)}) p(pct_ppm)
JOIN c ON c.cumw * 1000000 >= p.pct_ppm * c.tot
GROUP BY p.pct_ppm
ORDER BY pct_ppm
"""


def q_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line source (REOPENING #7), rounding out §2.1 formats
    (CSV/parquet/ORC/JSONL are registered): the documents table's text
    column round-trips through ``spark.write.text`` / ``spark.read.text``
    (valid because the fixture corpus is newline-free — verified 0 rows
    with embedded \\n or \\r at sf0.01) and the line-level profile is
    aggregated; the oracle reads the ORIGINAL parquet view, so a hash
    match proves the text round-trip lossless — the same proof shape as
    ``q_csv_scan`` / ``q_orc_scan`` (``operators/relational.py:41,70``).

    Scale shape: text write/scan are trivially splittable (one line =
    one record, no parse state across splits); the profile is one
    map-side-combined global aggregate."""
    out = relay(
        "documents_text", fixture_key(sf_dir, "documents"),
        lambda tmp: load(spark, sf_dir, "documents").select("text")
        .write.mode("overwrite").text(tmp),
    )
    lines = spark.read.text(out)
    return lines.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("sum_chars"),
        F.min(F.length("value")).cast("bigint").alias("min_line_chars"),
        F.max(F.length("value")).cast("bigint").alias("max_line_chars"),
        F.count_distinct(F.length("value"))
        .cast("bigint").alias("n_distinct_lengths"),
    )


ORACLE_TEXT_SCAN = r"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(min(length(text)) AS BIGINT) AS min_line_chars,
       CAST(max(length(text)) AS BIGINT) AS max_line_chars,
       CAST(count(DISTINCT length(text)) AS BIGINT) AS n_distinct_lengths
FROM documents
"""


def _disorder_replay_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engineered-disorder replay source shared by the watermark
    audits (append-mode here, update-mode staged for r11): the events
    table lands as three single-file micro-batches — middle third
    first, newest third second, OLDEST third LAST — so a watermark
    advanced by batch 2 has already passed batch 3's rows. The layout
    is a relay keyed by ``fixture_key`` (the driver regenerates fixtures
    between rounds) and is replayed via ``maxFilesPerTrigger=1`` in
    modification-time order, which the sequential writes guarantee
    matches batch order."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def write(tmp: str) -> None:
        ev = load(spark, sf_dir, "events").select("ts", "event_id")
        b = ev.select(
            F.percentile_approx("ts", 1 / 3).alias("t1"),
            F.percentile_approx("ts", 2 / 3).alias("t2"),
        ).first()
        # replay order: middle, newest, OLDEST-LAST (the late arrivals)
        parts = [
            ev.filter((F.col("ts") > b.t1) & (F.col("ts") <= b.t2)),
            ev.filter(F.col("ts") > b.t2),
            ev.filter(F.col("ts") <= b.t1),
        ]
        for i, p in enumerate(parts):
            p.coalesce(1).write.parquet(f"{tmp}/batch_{i}")

    out = relay("events_replay", fixture_key(sf_dir, "events"), write)
    return (
        spark.readStream.schema("ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{out}/batch_*/*.parquet")
    )


def q_stream_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting (REOPENING #8, rows-only BY
    DESIGN — emission/finalization timing is engine-specific micro-batch
    behavior no batch SQL can reproduce): the events table is replayed
    as three micro-batches with ENGINEERED disorder — middle third
    first, newest third second, oldest third LAST — so when the final
    batch arrives the 30-minute watermark (advanced by the newest data)
    has already passed its rows, and the hourly append-mode aggregate
    drops them. The output compares each emitted (finalized) hourly
    window against the exact batch count on the same rows:
    ``complete`` is TRUE only where no late drop and no unfinalized
    tail truncated the window — the accounting a production pipeline
    needs before trusting a watermarked rollup.

    Invariants pinned in ``tests/test_staged_r10.py``: emitted counts
    never exceed exact counts, at least one window shows a late drop,
    and fully-on-time windows match exactly.

    Scale shape: the streaming aggregate is the standard watermarked
    hash aggregate (state bounded by watermark horizon); the audit join
    is per-hour aggregates only. The 3-file replay layout is cached
    under ``.cache/`` keyed by ``fixture_key`` (content fingerprint —
    the driver regenerates fixtures between rounds)."""
    from spark_ml_spark.streaming.stream_queries import _drain

    stream = _disorder_replay_stream(spark, sf_dir)
    emitted = _drain(
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_emitted")),
        "append",
    ).select(
        F.unix_micros(F.col("w.start")).alias("hour_us"), "n_emitted"
    )
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.unix_micros(F.window("ts", "1 hour").start).alias("hour_us")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    return (
        exact.join(emitted, "hour_us", "left")
        .select(
            "hour_us",
            F.coalesce("n_emitted", F.lit(0)).cast("bigint")
            .alias("n_emitted"),
            "n_exact",
            (F.coalesce("n_emitted", F.lit(0)) == F.col("n_exact"))
            .alias("complete"),
        )
        .orderBy("hour_us")
    )


#: name -> (query fn, oracle SQL). Registered by the loop at the bottom
#: of this module since the r10 reopening (the r9 grade drained the
#: backlog, ending the freeze — VERDICT r9 #1); the dict stays the
#: single source of truth the registration loop and the pre-flip
#: oracle-differential tests both read.
STAGED = {
    "q_approx_percentiles_audit": (
        q_approx_percentiles_audit, ORACLE_APPROX_PERCENTILES_AUDIT),
    "q_hll_error_audit": (q_hll_error_audit, ORACLE_HLL_ERROR_AUDIT),
    "q_time_weighted_avg": (q_time_weighted_avg, ORACLE_TIME_WEIGHTED_AVG),
    "q_minmax_downsample": (q_minmax_downsample, ORACLE_MINMAX_DOWNSAMPLE),
    "q_join_skew_report": (q_join_skew_report, ORACLE_JOIN_SKEW_REPORT),
    "q_weighted_quantile": (q_weighted_quantile, ORACLE_WEIGHTED_QUANTILE),
    "q_text_scan": (q_text_scan, ORACLE_TEXT_SCAN),
    # rows-only by design (micro-batch emission timing) — registered
    # WITHOUT oracle SQL, joining the documented rows-only cohort
    "q_stream_watermark_audit": (q_stream_watermark_audit, None),
}

# r10 reopening registration (VERDICT r9 #1): 349 -> 357. Import-time,
# like every other operator module; the names join the never-graded
# backlog and therefore lead the rotated r10 window.
from spark_ml_spark.registry import query  # noqa: E402

for _n, (_fn, _sql) in STAGED.items():
    query(_n, _sql)(_fn)
