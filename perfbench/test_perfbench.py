"""Checks of the benchmark itself. Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import datagen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
from workloads import SF, WORKLOADS, Workload  # noqa: E402


def test_datagen_is_seeded():
    a, b, c = (datagen.make_tables(0.001, s) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert c["lineitem"].num_rows == 6000


def test_seeds_map_onto_recorded_input_sets():
    assert datagen.input_set(7) == datagen.input_set(7 + datagen.INPUT_SETS) == 7


def test_tail_keeps_ten_samples_beyond():
    value, pct = run.tail([float(i) for i in range(1, 41)])
    assert (value, pct) == (30.0, 75.0)
    assert run.tail([1.0] * 10) == (None, 0.0)
    # twelve samples leave only the 8th percentile: below the median
    assert run.tail([float(i) for i in range(12)])[1] < 50


def test_expected_covers_every_input_set_and_query():
    recorded = verify.load_expected()
    for inputs in range(datagen.INPUT_SETS):
        digests = verify.expected_for(recorded, inputs)
        for wl in WORKLOADS.values():
            assert set(wl.queries) <= set(digests), (wl.name, inputs)


def test_missing_expected_result_fails():
    got = {"hash": "0" * 16, "rows": 1, "cols": ["a"]}
    assert verify.mismatch(None, got) == "no expected result"


def test_one_corrupted_expected_hash_gives_failures():
    """The verification pass of a real run counts a result whose expected
    hash was corrupted as failed, and nothing else."""
    wl = Workload("check", ("q_csv_scan", "q_exact_dedup"), "test")
    run_dir = os.path.join(REPO, ".perfbench_run", f"test-{os.getpid()}")
    cwd = os.getcwd()
    os.chdir(REPO)
    try:
        with run.scratch(run_dir):
            cpus = run.configure_env(run_dir, trace=False)
            bench = run.Bench(wl, 3, 0.0, False, run_dir, cpus)
            try:
                inputs = datagen.input_set(bench.seed)
                datagen.write_tables(bench.sf_dir, SF, inputs)
                bench.set_up()
                expected = verify.expected_for(verify.load_expected(), inputs)
                bench.verify_pass(expected)
                assert (bench.attempted, bench.failed) == (2, 0)

                corrupted = copy.deepcopy(expected)
                corrupted["q_csv_scan"]["hash"] = "0" * 16
                bench.verify_pass(corrupted)
                assert bench.failed == 1
                assert list(bench.failures) == ["q_csv_scan"]
                assert bench.failed_frac > 0
            finally:
                if bench.spark is not None:
                    run.stop_spark(bench.spark)
    finally:
        os.chdir(cwd)
