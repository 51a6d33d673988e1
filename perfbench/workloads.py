"""The benchmark's workloads: frozen query lists, and the scale they run at.

Every query is one already registered in ``spark_ml_spark.registry``. The
lists are frozen here so that a later change to the registry cannot change
what a workload measures without a change to this file.
"""

from __future__ import annotations

from dataclasses import dataclass


#: scale factor of the generated tables: lineitem has 60,000 rows
SF = 0.01


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    why: str


#: Fixed cost per query: cheap batch queries (all under 0.5 s in
#: ``BENCH_DETAIL.json``), one per operator module where possible, plus the
#: paper's flagship pipeline, so plan construction, Py4J and Catalyst work
#: dominate and execution is small. Includes the CSV/JSON relay readers,
#: ``q_media_frames``, whose Python workers must import the package without
#: a ``PYTHONPATH``, and an MLlib estimator fit, an L-BFGS logistic
#: regression that runs one small job per solver iteration.
#: ``q_sessionize`` is left out: ``api.sessionize`` compares whole-second
#: ``unix_timestamp`` gaps where its oracle compares fractional seconds, so
#: it fails on the input sets with a gap just over 30 minutes, and a
#: workload must run without failures.
LIGHT_SWEEP = Workload(
    name="light_sweep",
    queries=(
        "q_flagship",
        "q_csv_scan",
        "q_json_scan",
        "q_chunk_documents",
        "q_exact_dedup",
        "q_anomaly_detect",
        "q_cluster_purity",
        "q_geohash_encode",
        "q_calibration_bins",
        "q_media_frames",
        "q_stratified_sample",
        "q_lognormal_fit",
        "q_drift_diff",
        "q_join_size_estimate",
        "q_token_count",
        "q_merge_upsert",
        "q_logreg_classify",
    ),
    why="many cheap queries and a small MLlib fit, so per-query plan construction and Catalyst cost dominate",
)

#: Exchanges, shuffle bytes and cache discipline: an iterative graph loop
#: with eager count() pins, connected components, MinHash LSH (an MLlib
#: fit) and the two-phase global rank.
SHUFFLE_HEAVY = Workload(
    name="shuffle_heavy",
    queries=(
        "q_bfs_levels",
        "q_canonical_docs",
        "q_minhash_neardup",
        "q_sql_window_ntile",
    ),
    why="a graph loop, connected components, LSH and a two-phase rank, so exchanges and caching dominate",
)

WORKLOADS = {w.name: w for w in (LIGHT_SWEEP, SHUFFLE_HEAVY)}
