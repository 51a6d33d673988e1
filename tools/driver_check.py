#!/usr/bin/env python
"""Local emulation of the driver's verify pass (driver contract in
``__spark_entry__.py``): run ``entry(spark)`` as a smoke check, then run
every ``queries()[name]`` at sf0.01 side-by-side with its
``oracle_sql()[name]`` in DuckDB and compare row-count + column names +
order-insensitive value hash. Queries without oracle SQL get the weaker
rows-only check. After each query it prints how many entries the query
left in Spark's cache manager (before clearing it), and at the end one
line naming every query that left any.

Usage: python tools/driver_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import os
import sys

import duckdb
import pandas as pd
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from spark_ml_spark.registry import collect  # noqa: E402
from spark_ml_spark.io.sources import TABLES  # noqa: E402
from spark_ml_spark.session import get_spark  # noqa: E402

#: per-oracle DuckDB wall-clock cap (seconds). Generous vs the graded
#: sf0.01 scale (every oracle finishes in single-digit seconds there);
#: exists so robustness sweeps at LARGER fixtures terminate and NAME the
#: super-linear oracles instead of hanging on one for an hour.
_ORACLE_TIMEOUT = float(os.environ.get("DRIVER_CHECK_ORACLE_TIMEOUT", "180"))


def _norm(v: object) -> str:
    """Normalize a cell for hashing the way an order-insensitive value
    compare must: floats to 6 significant digits, None → ∅. Decimal is
    coerced to float so a DECIMAL-typed oracle column can't silently
    string-match a DOUBLE Spark column (VERDICT r1 §wrong 1)."""
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _canon_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's pandas canonicalization: columns sorted by
    name, rows sorted by all column values. Raises TypeError on
    unhashable cells (list/array columns) exactly like the driver's
    canonicalizer did for ``q_media_frames`` in CORRECTNESS_r02 — a
    rows-only query that would ``err`` at the driver must fail here
    first (VERDICT r2 §next 5)."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _dtype_kinds(pdf: pd.DataFrame) -> dict[str, str]:
    """Per-column numpy dtype kind after pandas conversion. This is the
    layer where DuckDB HUGEINT (from an uncasted integer ``sum()``)
    degrades to float64 while Spark stays int64 — the exact divergence
    that made the driver hash-fail ``q_sql_tpch_q12`` in round 2 even
    though ``fetchall()``-based compares saw identical Python ints."""
    return {c: pdf.dtypes[c].kind for c in pdf.columns}


def _type_categories(cols: list[str], rows: list[tuple]) -> dict[str, str]:
    """Coarse per-column Python type category from the first non-None cell —
    catches DECIMAL-vs-DOUBLE oracle drift that name-only compare misses."""
    cats: dict[str, str] = {}
    for i, c in enumerate(cols):
        cat = "unknown"
        for r in rows:
            v = r[i]
            if v is None:
                continue
            if isinstance(v, bool):
                cat = "bool"
            elif isinstance(v, decimal.Decimal):
                cat = "decimal"
            elif isinstance(v, int):
                cat = "int"
            elif isinstance(v, float):
                cat = "float"
            elif isinstance(v, (list, tuple)):
                cat = "array"
            else:
                cat = type(v).__name__
            break
        cats[c] = cat
    return cats


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    sys.stdout.reconfigure(line_buffering=True)  # progress visible when piped
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries, oracles = collect()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("driver_check")

    # smoke: entry()
    if not only:
        import __spark_entry__ as e
        n = len(e.entry(spark).collect())
        print(f"entry(): {n} rows {'OK' if n >= 0 else 'FAIL'}")

    cache = spark._jsparkSession.sharedState().cacheManager()
    leaks: dict[str, int] = {}
    passed = failed = rows_only = skipped = 0
    for name in sorted(queries):
        if only and name not in only:
            continue
        try:
            sdf = queries[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            spdf = pd.DataFrame(srows, columns=scols)
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            failed += 1
            continue
        finally:
            # a query should leave nothing in the cache manager; report
            # what it left, then drop it so a full pass doesn't
            # accumulate cached relations in the shared session — the
            # same per-query protocol bench.py runs
            left = cache.numCachedEntries()
            print(f"cache {name}: {left} entries left")
            if left:
                leaks[name] = left
            spark.catalog.clearCache()
        if name not in oracles:
            # The driver still canonicalizes rows-only results through
            # pandas before recording them — an array/struct column errs
            # there (q_media_frames, CORRECTNESS_r02), so rehearse it.
            try:
                _canon_pdf(spdf)
            except TypeError as ex:
                print(f"FAIL  {name}: rows-only canonicalizer error "
                      f"(driver would err): {ex}")
                failed += 1
                continue
            print(f"rows  {name}: {len(srows)} rows (rows-only)")
            rows_only += 1
            continue
        try:
            # bound each DuckDB oracle: a few oracles are deliberately
            # naive (recursive-CTE closure, banded self-joins) and go
            # super-linear on larger-than-graded fixtures — without a cap
            # an sf0.1 robustness sweep can hang for an hour on one
            # query. con.interrupt() from a timer thread is the only way
            # to break a running C call (signal.alarm can't preempt it).
            timer = threading.Timer(_ORACLE_TIMEOUT, con.interrupt)
            timer.start()
            try:
                opdf = con.execute(oracles[name]).df()
            finally:
                timer.cancel()
        except KeyboardInterrupt:
            print(f"SKIP  {name}: oracle exceeded {_ORACLE_TIMEOUT:.0f}s "
                  f"(DuckDB interrupted; not counted as failure — rerun "
                  f"solo or at graded SF)", flush=True)
            skipped += 1
            continue
        except Exception as ex:  # noqa: BLE001
            if "INTERRUPT" in str(ex).upper() or isinstance(
                    ex, duckdb.InterruptException):
                print(f"SKIP  {name}: oracle exceeded {_ORACLE_TIMEOUT:.0f}s "
                      f"(DuckDB interrupted; not counted as failure — rerun "
                      f"solo or at graded SF)", flush=True)
                skipped += 1
                continue
            print(f"FAIL  {name}: oracle error: {ex}")
            failed += 1
            continue
        ocols = list(opdf.columns)
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if len(spdf) != len(opdf):
            problems.append(f"rowcount {len(spdf)} != {len(opdf)}")
        if not problems:
            try:
                spdf, opdf = _canon_pdf(spdf), _canon_pdf(opdf)
            except TypeError as ex:
                problems.append(f"canonicalizer error (driver would err): {ex}")
        if not problems and len(spdf):
            # dtype kinds are meaningless on empty frames (pandas infers
            # object for a rowless Spark result; the driver hashes zero
            # rows identically either way — q_except was green in r1)
            skinds, okinds = _dtype_kinds(spdf), _dtype_kinds(opdf)
            for c in spdf.columns:
                sk, ok = skinds[c], okinds[c]
                if sk != ok:
                    problems.append(
                        f"pandas dtype kind {c}: spark={sk} oracle={ok} "
                        f"(driver hashes these differently — cast the "
                        f"oracle column, cf. q12 HUGEINT)")
        if not problems:
            srows = [tuple(r) for r in spdf.itertuples(index=False)]
            orows = [tuple(r) for r in opdf.itertuples(index=False)]
            scats = _type_categories(list(spdf.columns), srows)
            ocats = _type_categories(list(opdf.columns), orows)
            for c in spdf.columns:
                sc, oc = scats.get(c), ocats.get(c)
                if sc and oc and "unknown" not in (sc, oc) and sc != oc:
                    problems.append(f"type category {c}: spark={sc} oracle={oc}")
            sh = value_hash(list(spdf.columns), srows)
            oh = value_hash(list(opdf.columns), orows)
            if sh != oh:
                problems.append(f"value hash {sh} != {oh}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failed += 1
        else:
            # knife-edge radar: raw float divergence between engines that
            # the %.6g hash absorbs TODAY can still straddle a ROUND(x,2)
            # cent boundary on other data (TPC-H Q9 at r3's sf0.01:
            # 842247.87 vs .88) — and we don't know the real driver's
            # float-hash granularity. Surface the max relative diff so
            # non-engine-exact queries are visible before they're graded.
            maxrel = 0.0
            for sr, orow in zip(srows, orows):
                for sv, ov in zip(sr, orow):
                    if isinstance(sv, float) and isinstance(ov, float) \
                            and sv == sv and ov == ov and sv != ov:
                        denom = max(abs(sv), abs(ov), 1e-300)
                        maxrel = max(maxrel, abs(sv - ov) / denom)
            tag = f"  [raw float drift rel={maxrel:.1e}]" if maxrel > 0 else ""
            print(f"ok    {name}: {len(spdf)} rows{tag}")
            passed += 1

    print("\ncache leaks: " + (" ".join(
        f"{n}={k}" for n, k in leaks.items()) or "none"))
    print(f"{passed} oracle-ok, {rows_only} rows-only, {failed} FAILED"
          + (f", {skipped} oracle-timeout-skipped" if skipped else ""))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
