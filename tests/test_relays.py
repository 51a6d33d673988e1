"""Write-once ``.cache/`` relays (``io.sources.relay``): a relay directory
exists only once it is complete, concurrent writers never corrupt it, and
nothing a relay-backed query leaves under ``.cache/`` is tied to the
checkout's path, so a copied checkout gives the same answers."""

from __future__ import annotations

import os
import shutil
import threading
from collections import Counter

import pytest

from spark_ml_spark.io import sources
from spark_ml_spark.registry import collect

QUERIES, ORACLES = collect()

RELAY_QUERIES = [
    "q_csv_scan", "q_json_scan", "q_orc_scan", "q_partition_pruning",
    "q_text_scan", "q_csv_malformed",
    "q_stream_watermark_audit", "q_stream_update_mode_audit",
    "q_stream_foreachbatch_upsert", "q_stream_to_parquet",
]


@pytest.mark.parametrize("name", RELAY_QUERIES)
def test_relay_query_survives_copied_checkout(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    a, b = tmp_path / "a", tmp_path / "b"
    monkeypatch.setattr(sources, "_CACHE_DIR", str(a))
    first = Counter(map(tuple, QUERIES[name](spark, sf_dir).collect()))
    shutil.copytree(a, b)
    shutil.rmtree(a)
    monkeypatch.setattr(sources, "_CACHE_DIR", str(b))
    again = Counter(map(tuple, QUERIES[name](spark, sf_dir).collect()))
    assert first
    if name in ORACLES:
        assert again == first
    else:
        assert again.total() == first.total()


def test_concurrent_writers_build_one_complete_relay(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setattr(sources, "_CACHE_DIR", str(tmp_path))
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def writer() -> None:
        try:
            barrier.wait(timeout=60)
            sources.documents_csv_path(spark, sf_dir)
        except Exception as ex:  # noqa: BLE001 - asserted below
            errors.append(ex)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    expected = sources.load(spark, sf_dir, "documents").count()
    assert sources.read_documents_csv(spark, sf_dir).count() == expected
    key = sources.fixture_key(sf_dir, "documents")
    assert os.listdir(tmp_path) == [f"documents_csv_{key}"]


def test_relay_failed_write_leaves_nothing(tmp_path, monkeypatch):
    monkeypatch.setattr(sources, "_CACHE_DIR", str(tmp_path))

    def write(tmp: str) -> None:
        with open(os.path.join(tmp, "part-0"), "w") as f:
            f.write("half")
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        sources.relay("t", "k", write)
    assert os.listdir(tmp_path) == []


def test_relay_lost_race_keeps_the_winner(tmp_path, monkeypatch):
    monkeypatch.setattr(sources, "_CACHE_DIR", str(tmp_path))
    final = tmp_path / "t_k"

    def write(tmp: str) -> None:
        # a concurrent writer finishes its rename while this one writes
        final.mkdir()
        (final / "part-0").write_text("winner")
        with open(os.path.join(tmp, "part-0"), "w") as f:
            f.write("loser")

    assert sources.relay("t", "k", write) == str(final)
    assert (final / "part-0").read_text() == "winner"
    assert os.listdir(tmp_path) == ["t_k"]
    # an existing relay is returned without calling the writer
    assert sources.relay(
        "t", "k", lambda tmp: pytest.fail("rewrote an existing relay")
    ) == str(final)
