"""Sources and sinks.

Reference surface (SURVEY.md §2.1): CSV line scan with a hand-rolled
quote-aware splitter and positional header drop (``Data_transform.py:32,36,
44-57,59``). Spark-native replacement: ``spark.read.csv`` with
``header=True`` — quote handling, header removal, and typed casts are all
built in; Catalyst pushes projection into the scan; no extra
``zipWithIndex`` counting job.

Parquet (the driver's test tables and the only sane format at 100 TB) is
self-describing columnar with predicate pushdown, column pruning, and
row-group skipping — the default source here. Every read declares its
schema (:data:`SCHEMAS`) instead of inferring it from the footers.

Relays: the other source formats (CSV, JSON, ORC, text, partitioned
parquet, stream replay files) are reached through derived copies of a
fixture table written once under the repo-local ``.cache/`` by
:func:`relay`, keyed by :func:`fixture_key`. A relay directory exists
only once it is complete: it is written into a fresh temp dir under
``.cache/`` and renamed into place. Concurrent writers each write their
own copy and the first rename wins; nobody waits or locks. A relay holds
nothing tied to the checkout's path, so a copied or moved checkout
reuses it as is.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: every table the driver provides (TESTDATA.md)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


#: the Spark schema of every table, declared so that no read of a fixture
#: or of a relay derived from one runs a schema-inference job (SURVEY.md
#: §1.2: the engine declares types instead of inferring; inferring a
#: parquet schema costs one footer-reading job per read, an inferSchema
#: pass over 100 TB of CSV a full extra read of the data). It is the arrow
#: contract of ``tests/test_fixture_contract.py`` in Spark's types, every
#: field nullable as Spark's own inference gives it: ``timestamp[us]`` is
#: TIMESTAMP (LTZ, not NTZ) because ``unix_micros``/window arithmetic
#: requires LTZ, and with the session pinned to UTC it equals DuckDB's
#: ``epoch()`` over the naive fixture timestamps.
SCHEMAS: dict[str, T.StructType] = {
    name: T.StructType([T.StructField(c, t) for c, t in cols])
    for name, cols in {
        "region": [("r_regionkey", T.IntegerType()),
                   ("r_name", T.StringType())],
        "nation": [("n_nationkey", T.IntegerType()),
                   ("n_name", T.StringType()),
                   ("n_regionkey", T.IntegerType())],
        "customer": [("c_custkey", T.LongType()),
                     ("c_name", T.StringType()),
                     ("c_nationkey", T.IntegerType()),
                     ("c_acctbal", T.DoubleType()),
                     ("c_mktsegment", T.StringType())],
        "supplier": [("s_suppkey", T.LongType()),
                     ("s_name", T.StringType()),
                     ("s_nationkey", T.IntegerType()),
                     ("s_acctbal", T.DoubleType())],
        "part": [("p_partkey", T.LongType()),
                 ("p_name", T.StringType()),
                 ("p_brand", T.StringType()),
                 ("p_type", T.StringType()),
                 ("p_size", T.IntegerType()),
                 ("p_retailprice", T.DoubleType())],
        "orders": [("o_orderkey", T.LongType()),
                   ("o_custkey", T.LongType()),
                   ("o_orderstatus", T.StringType()),
                   ("o_totalprice", T.DoubleType()),
                   ("o_orderdate", T.TimestampType()),
                   ("o_orderpriority", T.StringType())],
        "lineitem": [("l_orderkey", T.LongType()),
                     ("l_partkey", T.LongType()),
                     ("l_suppkey", T.LongType()),
                     ("l_linenumber", T.IntegerType()),
                     ("l_quantity", T.DoubleType()),
                     ("l_extendedprice", T.DoubleType()),
                     ("l_discount", T.DoubleType()),
                     ("l_tax", T.DoubleType()),
                     ("l_returnflag", T.StringType()),
                     ("l_linestatus", T.StringType()),
                     ("l_shipdate", T.TimestampType())],
        "events": [("event_id", T.LongType()),
                   ("ts", T.TimestampType()),
                   ("user_id", T.LongType()),
                   ("event_type", T.StringType()),
                   ("value", T.DoubleType()),
                   ("props", T.StringType())],
        "documents": [("doc_id", T.LongType()),
                      ("text", T.StringType()),
                      ("lang", T.StringType()),
                      ("source", T.StringType()),
                      ("n_chars", T.LongType())],
        "embeddings": [("vec_id", T.LongType()),
                       ("embedding", T.ArrayType(T.FloatType())),
                       ("label", T.IntegerType())],
    }.items()
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one test table with its declared schema
    (:data:`SCHEMAS`), so building the DataFrame runs no job: the footer
    is read only when the scan executes. Filters/projections placed on
    the result are pushed into the scan by Catalyst (check
    ``PushedFilters`` in ``.explain``)."""
    # defensive: the driver's session may not be ours — epoch math on
    # timestamps follows the SESSION timezone, and the DuckDB oracle's
    # epoch() is UTC; pin it so results are session-independent
    # (runtime-settable conf)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


#: repo-local scratch dir (gitignored) — the build contract forbids writes
#: outside the repo tree.
_CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".cache",
)


def fixture_key(sf_dir: str, *tables: str) -> str:
    """Cache key for a relay derived from fixture tables: hashes the
    absolute sf path plus each table file's ``mtime_ns`` and size (a
    stat, not a read of the content). The driver regenerates sf dirs in
    place between rounds (r3 changed events.ts from TIMESTAMP(NANOS) to
    naive micros), and a path-only key keeps serving the previous
    round's relay against a fresh oracle (ADVICE r2)."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f":{t}:{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()[:10]


def relay(name: str, key: str, write: Callable[[str], None]) -> str:
    """Path of the write-once relay ``<.cache>/<name>_<key>``, calling
    ``write(tmp)`` to build it if it is missing. ``write`` fills the
    fresh, empty directory it is given; it is then renamed into place,
    so the relay never exists half-written. A writer that loses the
    rename to a concurrent one keeps the winner's relay; if ``write``
    raises, its temp dir is removed and the error propagates. A killed
    writer leaves only a ``.<name>_<key>-*`` temp dir behind."""
    out = os.path.join(_CACHE_DIR, f"{name}_{key}")
    if os.path.isdir(out):
        return out
    os.makedirs(_CACHE_DIR, exist_ok=True)
    # same filesystem as ``out``, so the rename is atomic
    tmp = tempfile.mkdtemp(prefix=f".{name}_{key}-", dir=_CACHE_DIR)
    try:
        write(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            # another writer renamed first; its relay is as good as ours
            if not os.path.isdir(out):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def documents_csv_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize ``documents`` as CSV once per sf_dir (repo-local cache)
    so the CSV scan path (reference ``Data_transform.py:32``) can be
    exercised — all driver tables are parquet, the reference's source
    format is CSV (FIXTURES.md §B4)."""
    return relay(
        "documents_csv", fixture_key(sf_dir, "documents"),
        lambda tmp: (load(spark, sf_dir, "documents")
                     .write.mode("overwrite")
                     .option("header", True)
                     .option("quote", '"')
                     .option("escape", "\\")
                     .csv(tmp)),
    )


def documents_json_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize ``documents`` as JSON-lines once per sf_dir — the third
    source format (parquet/CSV/JSONL) a production landing zone sees."""
    return relay(
        "documents_json", fixture_key(sf_dir, "documents"),
        lambda tmp: load(spark, sf_dir, "documents")
        .write.mode("overwrite").json(tmp),
    )


def read_documents_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with a DECLARED schema — schema inference over
    100 TB of JSON is a full extra pass; a declared schema also keeps
    field types stable when a batch happens to be all-null."""
    return spark.read.schema(SCHEMAS["documents"]).json(
        documents_json_path(spark, sf_dir)
    )


def read_documents_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-aware CSV scan with declared schema (replaces the reference's
    ``arreglaComas`` state machine, ``Data_transform.py:44-57`` — Spark's
    reader preserves quoted commas instead of mutating them, SURVEY §1.3.1).

    ``multiLine=True`` makes quoted embedded newlines round-trip instead
    of silently splitting a document into corrupt rows (ADVICE r1). Scale
    note: multiLine CSV files are not line-splittable, so parallelism
    drops to one task per FILE — acceptable here because the writer side
    produces many small files; for a 100 TB landing zone prefer JSONL or
    parquet (or strip newlines at write time) if per-file sizes are large."""
    path = documents_csv_path(spark, sf_dir)
    return (spark.read
            .schema(SCHEMAS["documents"])
            .option("header", True)
            .option("quote", '"')
            .option("escape", "\\")
            .option("multiLine", True)
            .csv(path))


def dirty_orders_csv_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize ``orders`` as a DELIBERATELY dirty header-less CSV
    once per sf_dir: rows whose ``md5('dirty:' || o_orderkey)`` starts
    with ``'0'`` (a deterministic ~1/16 mask) get one extra unquoted
    trailing field — the malformed-row class the reference's
    ``arreglaComas`` state machine existed to paper over
    (``Data_transform.py:44-57``). The corruption is a pure row-key
    function, so the EXPECTED good/bad partition is recomputable from
    the clean parquet without parsing the dirty file — that recompute
    is ``q_csv_malformed``'s oracle."""
    def write(tmp: str) -> None:
        o = load(spark, sf_dir, "orders")
        line = F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            "o_orderstatus",
            # format_string, NOT format_number: the latter inserts
            # thousands-separator commas, which would corrupt every row
            F.format_string("%.2f", F.col("o_totalprice")),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            "o_orderpriority",
        )
        bad = F.substring(
            F.md5(F.concat(F.lit("dirty:"), F.col("o_orderkey").cast("string"))),
            1, 1,
        ) == "0"
        (o.select(
            F.when(bad, F.concat(line, F.lit(",XTRA"))).otherwise(line)
            .alias("value"))
         .write.mode("overwrite").text(tmp))

    return relay("orders_dirty_csv", fixture_key(sf_dir, "orders"), write)
