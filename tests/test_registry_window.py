"""Graded-window hygiene (VERDICT r5 directives #1/#5): the driver grades
only the FIRST 50 entries of ``queries()``, so ``registry.collect()``
must lead with the oldest never-graded debt, computed PROGRAMMATICALLY
from the CORRECTNESS artifacts by ``registry.proposed_window`` — never a
hand-carried list.
"""

from __future__ import annotations

import glob
import json
import os

from spark_ml_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _never_graded() -> list[str]:
    import re

    graded: set[str] = set()
    # CORRECTNESS_r*.json, not r0*: double-digit rounds (r10+) must count;
    # regex-gate like registry.proposed_window so a stray near-miss file
    # (CORRECTNESS_r08_partial.json) can't silently shrink the backlog
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        if not re.search(r"CORRECTNESS_r(\d+)\.json$", path):
            continue
        graded |= set(json.load(open(path)).keys())
    registry.collect()
    # canonical_order, NOT dict order: a sibling test importing one
    # operator module before collect() reshuffles QUERIES' insertion
    # order, but the window's notion of "registration order" must be
    # stable regardless of who imported what first
    return [n for n in registry.canonical_order() if n not in graded]


def test_window_is_first_50_of_never_graded_backlog():
    backlog = _never_graded()
    window = list(registry.collect()[0])[:50]
    assert len(window) == 50
    if len(backlog) >= 50:
        assert window == backlog[:50], f"backlog head: {backlog[:5]}..."
    else:
        # backlog < 50: every backlog query must be in the window; the
        # remaining slots are continuity anchors (free once debt is paid)
        assert set(backlog) <= set(window)


def test_window_names_are_registered_and_first_in_collect_order():
    q, _ = registry.collect()
    assert set(q) == set(registry.QUERIES)
    assert list(q)[:50] == registry.proposed_window(50)


def test_proposed_window_anchor_policy(tmp_path):
    """In the anchor regime the free slots go to the queries whose most
    recent driver row is OLDEST, tie-broken by canonical order — checked
    against synthetic artifacts so the policy is pinned before r9 needs
    it, independent of the repo's real artifact state."""
    import json

    registry.collect()
    order = registry.canonical_order()
    # grade everything except the last 3 names; grade the first two
    # names only in round 1, everything else in round 2
    backlog = order[-3:]
    old_pair, rest = order[:2], order[2:-3]
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {} for n in old_pair})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({n: {} for n in rest + old_pair[:1]})
    )
    win = registry.proposed_window(6, repo_dir=str(tmp_path))
    # 3 backlog names first, then anchors: old_pair[1] (latest row r1)
    # precedes every r2-graded name; r2 anchors follow canonical order
    assert win == backlog + [old_pair[1], old_pair[0], rest[0]]


def test_proposed_window_edge_cases(tmp_path):
    """No artifacts → the window is simply the canonical head (every
    query is backlog); k beyond the registered count must return the
    full surface without raising, not pad or wrap."""
    import json

    registry.collect()
    order = registry.canonical_order()
    # empty artifacts dir: all queries never-graded
    assert registry.proposed_window(50, repo_dir=str(tmp_path)) == order[:50]
    # k > registered: everything, once
    big = registry.proposed_window(len(order) + 100, repo_dir=str(tmp_path))
    assert big == order
    # everything graded in one round: window = k stalest anchors =
    # canonical head again (all tie on round, canonical order breaks it)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {} for n in order})
    )
    assert registry.proposed_window(5, repo_dir=str(tmp_path)) == order[:5]


def test_proposed_window_ignores_noncanonical_artifact_names(tmp_path):
    """Self-review r8: a stray near-miss file (scratch copy, partial
    dump) must not mark its names graded — only canonical
    CORRECTNESS_r<digits>.json artifacts count."""
    import json

    registry.collect()
    order = registry.canonical_order()
    (tmp_path / "CORRECTNESS_r08_partial.json").write_text(
        json.dumps({order[0]: {}})
    )
    (tmp_path / "CORRECTNESS_rdraft.json").write_text("not even json")
    # both ignored: the window is still the canonical head
    assert registry.proposed_window(50, repo_dir=str(tmp_path)) == order[:50]

