"""Independent pure-Python reference checks for the STAGED r11 wave.

The oracle-differential tests in ``test_staged_r11.py`` prove Spark and
DuckDB agree — but both the DataFrame plan and the oracle SQL were
written from the same formulation, so a shared conceptual bug (a wrong
crossing rule, a BFS that isn't BFS, a greedy that isn't the MMR
argmax) would pass the hash compare on both sides. These tests pin the
semantics against third implementations written in plain Python from
the textbook definitions: shapely-free ray casting, dict-based BFS,
and an O(k·n²) greedy MMR. Inputs come from DuckDB (tiny, sf0.001) so
no Spark run is duplicated; the Spark outputs under test are collected
once per test.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from spark_ml_spark.operators.staged_r11 import (
    _BFS_K,
    _BFS_SEED_MOD,
    _MMR_K,
    _MMR_N,
    _POLYGONS,
    _pip_inside_expr,
    STAGED,
)


# ---------------------------------------------------------------- pip

def _inside_reference(poly, px, py):
    """Textbook crossing-number ray cast (half-open vertical rule,
    exact integer cross-multiplication) — written independently of the
    generated SQL text."""
    crossings = 0
    n = len(poly)
    for i in range(n):
        ax, ay = poly[i]
        bx, by = poly[(i + 1) % n]
        if (ay > py) == (by > py):
            continue
        # x-coordinate of the edge at height py, compared without
        # division: px < ax + (py-ay)*(bx-ax)/(by-ay)
        lhs = (px - ax) * (by - ay)
        rhs = (py - ay) * (bx - ax)
        if (lhs < rhs) if by > ay else (lhs > rhs):
            crossings += 1
    return crossings % 2 == 1


@settings(max_examples=200, deadline=None)
@given(
    px=st.integers(min_value=-1_800_000, max_value=1_800_000),
    py=st.integers(min_value=-900_000, max_value=900_000),
    pid=st.sampled_from(sorted(_POLYGONS)),
)
def test_pip_expression_matches_reference(duck, px, py, pid):
    # evaluate the GENERATED expression text (the exact string both
    # engines run) on a 1-point relation and compare to the reference
    got = duck.execute(
        f"SELECT {_pip_inside_expr(pid)} FROM "
        f"(SELECT CAST({px} AS BIGINT) AS px, CAST({py} AS BIGINT) AS py)"
    ).fetchone()[0]
    assert got == _inside_reference(_POLYGONS[pid], px, py)


# ---------------------------------------------------------------- bfs

def test_bfs_levels_match_python_bfs(spark, duck, sf_dir, invariant_confs):
    edges = duck.execute(
        "SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,"
        "       greatest(x.l_partkey, y.l_partkey) AS b"
        " FROM lineitem x JOIN lineitem y"
        "   ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"
    ).fetchall()
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = sorted(n for n in adj if n % _BFS_SEED_MOD == 0)
    level = {n: 0 for n in seeds}
    frontier = list(seeds)
    for k in range(1, _BFS_K + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in level:
                    level[v] = k
                    nxt.append(v)
        frontier = nxt
    got = {
        r.node: r.level
        for r in STAGED["q_bfs_levels"][0](spark, sf_dir).collect()
    }
    assert got == level


# ---------------------------------------------------------------- mmr

def test_mmr_matches_python_greedy(spark, duck, sf_dir):
    import math

    rows = duck.execute(
        "SELECT vec_id, embedding FROM embeddings"
    ).fetchall()
    unit = {}
    for vid, e in rows:
        norm = math.sqrt(sum(float(x) * float(x) for x in e))
        unit[vid] = [float(x) / norm for x in e]

    def cos_micro(a, b):
        return math.floor(
            sum(x * y for x, y in zip(a, b)) * 1_000_000.0 + 0.5
        )

    q = unit[0]
    rel = {
        vid: cos_micro(u, q) for vid, u in unit.items() if vid != 0
    }
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:_MMR_N]
    selected: list[int] = []
    for _ in range(_MMR_K):
        best = None
        for c in cand:
            if c in selected:
                continue
            maxsim = max(
                (cos_micro(unit[c], unit[s]) for s in selected),
                default=0,
            )
            score = 7 * rel[c] - 3 * maxsim
            if best is None or (score, -c) > best[0]:
                best = ((score, -c), c)
        selected.append(best[1])

    got = [
        (r.step, r.vec_id, r.rel_micro)
        for r in STAGED["q_mmr_diversify"][0](spark, sf_dir).collect()
    ]
    want = [(i + 1, v, rel[v]) for i, v in enumerate(selected)]
    assert got == want


# --------------------------------------------------------- bitemporal

def test_bitemporal_matches_python_reference(spark, duck, sf_dir):
    import hashlib

    rows = duck.execute(
        "SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) FROM orders"
    ).fetchall()
    recs = []
    for ck, ok, vus in rows:
        h = int(hashlib.md5(f"tx{ok}".encode()).hexdigest()[:8], 16)
        recs.append((ck, ok, vus, vus + (h % 259_200) * 1_000_000))
    n = len(recs)
    v_sorted = sorted((r[2], r[1]) for r in recs)
    t_sorted = sorted((r[3], r[1]) for r in recs)
    v_cut = v_sorted[(6 * n) // 10][0]       # rank (6n div 10)+1, 0-based
    t_cut = t_sorted[(8 * n) // 10][0]
    best: dict[int, tuple] = {}
    for ck, ok, vus, tus in recs:
        if vus <= v_cut and tus <= t_cut:
            key = (vus, tus, ok)
            if ck not in best or key > best[ck][0]:
                best[ck] = (key, ok, vus, tus)
    got = {
        r.o_custkey: (r.o_orderkey, r.valid_us, r.tx_us)
        for r in STAGED["q_bitemporal_asof"][0](spark, sf_dir).collect()
    }
    want = {ck: (b[1], b[2], b[3]) for ck, b in best.items()}
    assert got == want
