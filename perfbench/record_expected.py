#!/usr/bin/env python3
"""Record the expected result digests in ``perfbench/expected.json``.

Run from the repository root::

    python3 perfbench/record_expected.py 0 31

For every input set in the inclusive range (``datagen.input_set``) it
writes the input tables, then records, for every query of every workload,
the DuckDB oracle digest when the query has oracle SQL and a golden Spark
digest (``source: spark-golden``) when it has none. The golden queries
give the same digests on 2 and 4 cores. Oracle queries are also run in
Spark and compared, so that a query the program gets wrong on generated
data is named here as well as in every run on that input set. Exits 1 if
any query mismatched or raised.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import datagen
import run
from workloads import SF, WORKLOADS


def main(argv: list[str]) -> int:
    first, last = int(argv[0]), int(argv[1])
    sys.path.insert(0, os.getcwd())
    work = os.path.abspath(os.path.join(".perfbench_run", f"record-{os.getpid()}"))
    with run.scratch(work):
        return record(work, first, last)


def duckdb_connect(sf_dir: str):
    """DuckDB with every fixture table registered as a view, as the driver
    check registers them."""
    import duckdb

    from spark_ml_spark.io.sources import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def record(work: str, first: int, last: int) -> int:
    run.configure_env(work, trace=False)
    from spark_ml_spark.registry import collect
    from spark_ml_spark.session import get_spark
    from verify import (EXPECTED_PATH, digest, load_expected, mismatch,
                        spark_digest)

    queries, oracles = collect()
    spark = get_spark("perfbench-record")
    recorded = load_expected()
    names = sorted({q for wl in WORKLOADS.values() for q in wl.queries})
    bad = 0
    try:
        for inputs in range(first, last + 1):
            sf_dir = os.path.join(work, f"inputs-{inputs}")
            datagen.write_tables(sf_dir, SF, inputs)
            con = duckdb_connect(sf_dir)
            out = {}
            for name in names:
                try:
                    got = spark_digest(queries[name](spark, sf_dir))
                except Exception as ex:  # noqa: BLE001 - reported
                    got = ex
                finally:
                    spark.catalog.clearCache()
                if name in oracles:
                    out[name] = dict(digest(con.execute(oracles[name]).df()),
                                     source="duckdb")
                    why = f"raised {got!r}"[:300] if isinstance(got, Exception) \
                        else mismatch(out[name], got)
                elif isinstance(got, Exception):
                    why = f"raised {got!r}"[:300]
                else:
                    out[name], why = dict(got, source="spark-golden"), None
                if why:
                    print(f"FAIL inputs {inputs} {name}: {why}")
                    bad += 1
            con.close()
            recorded[str(inputs)] = out
            shutil.rmtree(sf_dir)
            print(f"recorded inputs {inputs}", flush=True)
    finally:
        run.stop_spark(spark)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(recorded, f, indent=0, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
