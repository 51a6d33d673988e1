"""Checking query results against expected digests.

A digest is the order-insensitive value hash of ``tools/driver_check.py``
plus the row count and the sorted column names. The expected digests of
every input set (``datagen.input_set``) are recorded once in
``expected.json`` by ``record_expected.py``: the DuckDB oracle digest of
each query with oracle SQL, and a golden Spark digest (``spark-golden``)
of each query without. A query with no recorded digest fails.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from driver_check import _canon_pdf, value_hash  # noqa: E402

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")


def digest(pdf: pd.DataFrame) -> dict:
    """Hash, row count and sorted column names of one result, hashed the
    way the driver check hashes it."""
    pdf = _canon_pdf(pdf)
    rows = [tuple(r) for r in pdf.itertuples(index=False)]
    return {
        "hash": value_hash(list(pdf.columns), rows),
        "rows": len(rows),
        "cols": sorted(pdf.columns),
    }


def spark_digest(df) -> dict:
    """Collect a Spark DataFrame once and digest it."""
    cols = df.columns
    return digest(pd.DataFrame([tuple(r) for r in df.collect()], columns=cols))


def load_expected(path: str = EXPECTED_PATH) -> dict:
    """``{input set: {query: digest}}``, as recorded."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def expected_for(recorded: dict, input_set: int) -> dict[str, dict]:
    """The recorded digests of one input set, by query."""
    return recorded.get(str(input_set), {})


def mismatch(exp: dict | None, got: dict) -> str | None:
    """Why ``got`` does not match the expected digest ``exp``, or None."""
    if exp is None:
        return "no expected result"
    if got["cols"] != exp["cols"]:
        return f"columns {got['cols']} != {exp['cols']}"
    if got["rows"] != exp["rows"]:
        return f"rows {got['rows']} != {exp['rows']} ({exp['source']})"
    if got["hash"] != exp["hash"]:
        return f"hash {got['hash']} != {exp['hash']} ({exp['source']})"
    return None
