"""Reference-pipeline parity: the ENTIRE reference program
(``Data_transform.py:27-179``) re-expressed as one Catalyst plan + an MLlib
pipeline, run against a synthetic RLS-like fixture (FIXTURES.md §B).

The reference reads the Reef Life Survey CSV (not committed there, so not
available here); the fixture reproduces its structural properties —
20 string columns, quoted commas in ``Site``, ~40 rows per survey, a
family vocabulary with 2 in-data-but-not-in-vocab names, an all-zero
survey group, trailing whitespace in the vocabulary file — so every
semantic quirk catalogued in SURVEY.md §1.3 is exercised.

Deviations from the reference (documented, SURVEY §1.3) — each now with
an opt-in parity flag where reproducible:
- per-(survey, family) counts default to SUM, not last-write-wins
  (§1.3.2 — the reference's assignment semantics are partition-order-
  dependent); ``build_site_vectors(last_write_wins=True)`` reproduces the
  assignment semantics deterministically (max_by on file order);
- the 70/30 split defaults to seeded (§1.3.6); ``fit_and_eval(seed=None)``
  reproduces the reference's unseeded run-dependent split;
- Spark's CSV reader preserves quoted commas instead of rewriting them to
  ';' (§1.3.1 — not reproduced; the mutation was a parsing workaround,
  not a semantic choice).
The target-leakage quirk (§1.3.4: latitude appended to its own feature
vector, ``Data_transform.py:117``) IS reproduced behind
``include_label_feature`` — it is load-bearing for the reference's
published RMSE(lat) ≪ RMSE(lon) signature (``output.txt:103,115``).
"""

from __future__ import annotations

import csv
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_ml_spark.io.sources import relay

SEED = 42

#: RLS header, 20 columns (reference ``output.txt:1``); the pipeline reads
#: only the starred five (``Data_transform.py:68-73``).
RLS_COLUMNS = (
    "FID", "Key", "SurveyID", "Country", "Ecoregion", "Realm", "SiteCode",
    "Site", "SiteLat", "SiteLong", "SurveyDate", "Depth", "Phylum", "Class",
    "Family", "Taxon", "Block", "Total", "Diver", "geom",
)

#: declared, all strings as a header-only read would give them, so the
#: scan runs no job to read the header line
RLS_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in RLS_COLUMNS]
)

#: vocabulary (the ``familias.txt`` stand-in): 28 known families; the data
#: additionally uses 2 unknown ones (ref: 191 in data vs 189 in vocab,
#: ``output.txt:89``).
VOCAB_SIZE = 28
KNOWN_FAMILIES = tuple(f"Family_{i:03d}" for i in range(VOCAB_SIZE))
UNKNOWN_FAMILIES = ("Family_X1", "Family_X2")

N_SURVEYS = 100
ROWS_PER_SURVEY = 40  # ref: 546,100 / 13,453 ≈ 40.6


def generate_fixture() -> tuple[str, str]:
    """Write the fish_surveys CSV + families vocabulary file once, as a
    relay keyed by the seed (the fixture is a pure function of this
    module's constants). Returns (csv_path, families_path)."""
    out = relay("fish_surveys", f"seed{SEED}", _write_fixture)
    return (os.path.join(out, "fish_surveys.csv"),
            os.path.join(out, "familias.txt"))


def _write_fixture(out: str) -> None:
    rng = random.Random(SEED)
    all_families = list(KNOWN_FAMILIES) + list(UNKNOWN_FAMILIES)

    with open(os.path.join(out, "familias.txt"), "w") as f:
        for i, fam in enumerate(KNOWN_FAMILIES):
            # trailing whitespace on some lines exercises strip()
            # (reference Data_transform.py:82)
            f.write(fam + ("  " if i % 7 == 0 else "") + "\n")

    with open(os.path.join(out, "fish_surveys.csv"), "w", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
        w.writerow(RLS_COLUMNS)
        fid = 0
        for s in range(N_SURVEYS):
            survey_id = f"S{s:05d}"
            lat = round(rng.uniform(-68.0, 79.0), 2)
            lon = round(rng.uniform(-180.0, 178.0), 2)
            # one site name with a quoted comma (FIXTURES §B1: exercises
            # quote-aware parsing; the reference mutated these, §1.3.1)
            site = f"Reef, Site {s}" if s % 10 == 0 else f"Site {s}"
            # survey 0 is the all-zero group (zero-vector guard, §1.3.5)
            for _ in range(ROWS_PER_SURVEY):
                fid += 1
                # Zipf-ish family draw
                fam = all_families[min(int(rng.paretovariate(1.2)) - 1,
                                       len(all_families) - 1)]
                total = 0 if s == 0 else rng.randint(0, 50)
                w.writerow([
                    f"F{fid}", f"K{fid}", survey_id, "Country", "Ecoregion",
                    "Realm", f"SC{s}", site, f"{lat}", f"{lon}",
                    "2010-01-01", f"{rng.uniform(1, 30):.1f}", "Chordata",
                    "Actinopterygii", fam, f"{fam} taxon {rng.randint(1, 3)}",
                    str(rng.randint(1, 4)), str(total), f"Diver{s % 7}",
                    f"POINT ({lon} {lat})",
                ])


def load_families(spark: SparkSession, fam_path: str) -> DataFrame:
    """The vocabulary dimension as a DataFrame (reference: driver-local
    Python list captured in closures, ``Data_transform.py:82``) — trimmed,
    with the 0-based vector position carried as a column so downstream
    ordering is explicit, not list.index() linear scans."""
    fams = [ln.strip() for ln in open(fam_path) if ln.strip()]
    return spark.createDataFrame(
        [(f, i) for i, f in enumerate(fams)], "family string, vec_pos int"
    )


def build_site_vectors(
    spark: SparkSession,
    csv_path: str,
    fam_path: str,
    last_write_wins: bool = False,
) -> tuple[DataFrame, list[str]]:
    """The reference's ETL half (``Data_transform.py:32-100``) as ONE
    declarative plan: CSV scan (header, quote-aware) → project the 5 used
    columns → cast → broadcast left-semi vocabulary join (drop-unknown,
    §1.3.3) → group per site → pivot over the EXPLICIT vocabulary →
    sum (§1.3.2 deviation) → L1-normalize with zero-guard (§1.3.5).

    ``last_write_wins=True`` reproduces the reference's ``toVector``
    ASSIGNMENT semantics (``Data_transform.py:91``: ``vec[pos] = total``
    per row, so for a repeated (survey, family) the last row processed
    wins). The reference's "last" is file order within the groupByKey
    iterator; here it is expressed deterministically as
    ``max_by(Total, row_order)`` with row_order = the numeric FID (file
    order in the fixture) — order-stable under Spark's partitioning,
    unlike the reference's partition-order-dependent dict write.

    Returns (site_vectors, vocabulary). One shuffle total (the pivot
    aggregation); the reference re-read its CSV ≥6 times (SURVEY §3.1).
    """
    fams = load_families(spark, fam_path)
    vocab = [r.family for r in fams.orderBy("vec_pos").collect()]

    raw = (
        spark.read.schema(RLS_SCHEMA)
        .option("header", True).option("quote", '"').csv(csv_path)
    )
    proj = raw.select(
        "SurveyID",
        F.col("SiteLat").cast("double").alias("SiteLat"),
        F.col("SiteLong").cast("double").alias("SiteLong"),
        "Family",
        F.col("Total").cast("int").alias("Total"),
        F.regexp_extract("FID", r"(\d+)", 1).cast("long").alias("row_order"),
    )
    known = proj.join(F.broadcast(fams), proj.Family == fams.family, "left_semi")
    cell = (
        F.max_by("Total", "row_order") if last_write_wins else F.sum("Total")
    )
    piv = (
        known.groupBy("SurveyID", "SiteLat", "SiteLong")
        .pivot("Family", vocab)
        .agg(cell)
        .na.fill(0, vocab)
    )
    total = sum(F.col(f"`{v}`") for v in vocab).cast("double")
    # zero-guard: an all-zero site keeps its zero vector (reference
    # Data_transform.py:92-95)
    normed = piv.select(
        "SurveyID",
        "SiteLat",
        "SiteLong",
        *[
            F.when(total == 0, F.col(f"`{v}`").cast("double"))
            .otherwise(F.col(f"`{v}`") / total)
            .alias(v)
            for v in vocab
        ],
    )
    return normed, vocab


def fit_and_eval(
    spark: SparkSession,
    site_vectors: DataFrame,
    vocab: list[str],
    label: str,
    algo: str = "rf",
    include_label_feature: bool = False,
    seed: int | None = SEED,
) -> float:
    """The reference's ML half (``Data_transform.py:155-179``): assemble
    features (optionally appending SiteLat — the leakage quirk §1.3.4),
    70/30 split, fit RF or GBT, return RMSE.

    ``seed=None`` reproduces the reference's UNSEEDED ``randomSplit``
    (``Data_transform.py:155`` passes no seed → run-dependent split, the
    §1.3.6 quirk); any int gives the engine's reproducible default."""
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor, RandomForestRegressor

    cols = list(vocab) + (["SiteLat"] if include_label_feature else [])
    assembler = VectorAssembler(inputCols=cols, outputCol="features")
    if algo == "rf":
        reg = RandomForestRegressor(featuresCol="features", labelCol=label, seed=SEED)
    else:
        reg = GBTRegressor(featuresCol="features", labelCol=label, seed=SEED)
    if seed is None:
        train, test = site_vectors.randomSplit([0.7, 0.3])
    else:
        train, test = site_vectors.randomSplit([0.7, 0.3], seed=seed)
    model = Pipeline(stages=[assembler, reg]).fit(train)
    preds = model.transform(test)
    return float(
        RegressionEvaluator(
            labelCol=label, predictionCol="prediction", metricName="rmse"
        ).evaluate(preds)
    )
