"""Query registry: the single source of truth for the driver contract.

Operator modules register each query with the :func:`query` decorator —
optionally with the equivalent ANSI SQL the DuckDB oracle runs at sf0.01
(driver contract in ``__spark_entry__.py``). Queries without oracle SQL get
the weaker rows-only check (non-SQL-expressible ops: LSH joins, MLlib fits,
streaming).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: A query function builds and returns the query's DataFrame. It may run
#: eager jobs while it builds (the per-round checkpoints of
#: ``api.iterate``, for example), and it must leave nothing in Spark's
#: cache manager once it returns; the caller collects or writes the
#: result without any ``clearCache()``.
QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

#: name -> (defining module, definition sequence within that module);
#: basis for :func:`canonical_order`, which must not depend on IMPORT
#: order (a test importing one operator module before collect() would
#: otherwise reshuffle the dict-insertion order the driver sees)
_ORIGIN: dict[str, tuple[str, int]] = {}

#: modules that register queries on import
_OPERATOR_MODULES = (
    "spark_ml_spark.operators.relational",
    "spark_ml_spark.operators.ml",
    "spark_ml_spark.operators.dedup",
    "spark_ml_spark.operators.similarity",
    "spark_ml_spark.operators.textops",
    "spark_ml_spark.operators.pipeline",
    "spark_ml_spark.operators.multimodal",
    "spark_ml_spark.operators.sql_frontend",
    "spark_ml_spark.streaming.stream_queries",
    "spark_ml_spark.operators.curation",
    "spark_ml_spark.operators.selection",
    "spark_ml_spark.operators.graph",
    "spark_ml_spark.operators.diagnostics",
    "spark_ml_spark.operators.sketches",
    "spark_ml_spark.operators.geo",
    "spark_ml_spark.operators.modern_sql",
    "spark_ml_spark.operators.corpus",
    "spark_ml_spark.operators.clustering",
    "spark_ml_spark.operators.mining",
    "spark_ml_spark.operators.stats_tests",
    "spark_ml_spark.operators.timeseries",
    "spark_ml_spark.operators.graph_metrics",
    "spark_ml_spark.operators.customer_analytics",
    "spark_ml_spark.operators.behavior",
    "spark_ml_spark.operators.warehouse_ops",
    "spark_ml_spark.operators.frontier",
    "spark_ml_spark.operators.integrity",
    "spark_ml_spark.operators.fairness_eval",
    "spark_ml_spark.operators.survival",
    "spark_ml_spark.operators.fuzzy",
    "spark_ml_spark.operators.mergeops",
    "spark_ml_spark.operators.robuststats",
    "spark_ml_spark.operators.graph_linkpred",
    "spark_ml_spark.operators.mlextra",
    "spark_ml_spark.operators.sqlsurface",
    "spark_ml_spark.operators.evaldepth",
    "spark_ml_spark.operators.warehouse_depth",
    "spark_ml_spark.operators.ml_estimators",
    "spark_ml_spark.operators.corpus_depth",
    "spark_ml_spark.operators.forecast_eval",
    "spark_ml_spark.operators.agreement",
    "spark_ml_spark.operators.inference_depth",
    "spark_ml_spark.operators.experimentation",
    "spark_ml_spark.operators.nonparametric",
    "spark_ml_spark.operators.corpus_measure",
    "spark_ml_spark.operators.scale_patterns2",
    "spark_ml_spark.operators.eval_metrics",
    "spark_ml_spark.operators.warehouse_pit",
    "spark_ml_spark.operators.chains_control",
    "spark_ml_spark.operators.extremes",
    "spark_ml_spark.operators.bi_depth2",
    "spark_ml_spark.operators.inference_depth2",
    "spark_ml_spark.operators.profiles",
    "spark_ml_spark.operators.divergence",
    "spark_ml_spark.operators.product_analytics",
    # r10 reopening (VERDICT r9 #1): the eight REOPENING.md candidates,
    # staged behind the r6-r9 registration freeze, flip on here
    "spark_ml_spark.operators.staged_r10",
    # r11 reopening (VERDICT r10 #1): the nine ranked REOPENING.md r11
    # candidates, staged in r10, flip on here (357 -> 366)
    "spark_ml_spark.operators.staged_r11",
    # r12 reopening: the staged r12 trio (366 -> 369) plus the
    # PROMOTED top seven of the ranked r13 batch (369 -> 376), per
    # REOPENING.md's planned promotion into r12's ~10/round budget
    "spark_ml_spark.operators.staged_r12",
    "spark_ml_spark.operators.staged_r13",
)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        mod = fn.__module__
        seq = sum(1 for m, _ in _ORIGIN.values() if m == mod)
        _ORIGIN[name] = (mod, seq)
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def canonical_order() -> list[str]:
    """Registration order as a STABLE total order: module rank in
    :data:`_OPERATOR_MODULES` first, then definition order within the
    module — identical no matter which module a caller happened to
    import first. Imports every operator module first, so the order
    covers every registered query. This is the order
    :func:`proposed_window` walks."""
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    rank = {m: i for i, m in enumerate(_OPERATOR_MODULES)}
    # tie-break on module name: two modules absent from _OPERATOR_MODULES
    # would otherwise share rank len(rank) with colliding per-module seq
    # numbers and fall back to the import-order instability this function
    # exists to prevent
    return sorted(
        QUERIES,
        key=lambda n: (
            rank.get(_ORIGIN[n][0], len(rank)),
            _ORIGIN[n][0],
            _ORIGIN[n][1],
        ),
    )


def proposed_window(k: int = 50, repo_dir: str | None = None) -> list[str]:
    """The graded window :func:`collect` puts first, computed
    deterministically from the committed ``CORRECTNESS_r*.json``
    artifacts.

    Policy (r8): the never-graded backlog first, in canonical order —
    the brief's every-query bar always outranks re-verification. If
    fewer than ``k`` remain, the free slots become continuity anchors:
    already-graded queries ordered by the ROUND OF THEIR MOST RECENT
    driver row, oldest first (tie-break canonical order) — so anchor
    slots re-verify the stalest evidence, and repeated application
    cycles the whole surface through the driver indefinitely."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    if repo_dir is None:
        repo_dir = _os.path.dirname(
            _os.path.dirname(_os.path.abspath(__file__))
        )
    latest: dict[str, int] = {}
    for path in sorted(
        _glob.glob(_os.path.join(repo_dir, "CORRECTNESS_r*.json"))
    ):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            # stray near-miss (scratch copy, partial dump): ingesting it
            # would strand its names out of the backlog forever — skip,
            # only canonical driver artifacts count
            continue
        rnd = int(m.group(1))
        for name in _json.load(open(path)):
            latest[name] = max(latest.get(name, 0), rnd)
    order = canonical_order()
    idx = {n: i for i, n in enumerate(order)}
    backlog = [n for n in order if n not in latest]
    if len(backlog) >= k:
        return backlog[:k]
    anchors = sorted(
        (n for n in order if n in latest), key=lambda n: (latest[n], idx[n])
    )
    return backlog + anchors[: k - len(backlog)]


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every operator module (triggering registration) and return
    the (queries, oracle_sql) dicts the driver consumes. The driver
    grades only the FIRST 50 entries of ``queries()`` in dict order, so
    :func:`proposed_window` leads, followed by the rest in
    :func:`canonical_order`."""
    window = proposed_window(50)
    head = set(window)
    ordered = window + [n for n in canonical_order() if n not in head]
    q = {n: QUERIES[n] for n in ordered}
    o = {n: ORACLE[n] for n in ordered if n in ORACLE}
    return q, o
