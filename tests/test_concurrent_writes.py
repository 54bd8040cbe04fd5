"""Concurrent writes through one engine: the write lock's contract.

Every write allocates the next table-wide snapshot version, so two
unserialized writers, on one library or on two, race for the same
``v=N`` directory and the loser's write fails. One Engine serializes its
mutations under ``Engine.write_lock``; this drill runs writers on threads,
as the threaded HTTP front does, and checks that every write answers 2xx
and every acknowledged chunk is there afterwards.
"""

from __future__ import annotations

import threading

import pytest

from vector_db_api_spark.api.facade import Facade
from vector_db_api_spark.api.service import Engine

DIM = 4
JOIN_TIMEOUT_S = 300


@pytest.fixture(scope="module")
def shared(spark, tmp_path_factory):
    fac = Facade(Engine(spark, str(tmp_path_factory.mktemp("concurrent"))))
    for lib in ("A", "B"):
        assert fac.create_library(
            {"id": lib, "name": lib, "embedding_dim": DIM})["status"] == 201
        assert fac.create_document(lib, {"id": f"d{lib}"})["status"] == 201
    return fac


def _drill(fac, plan: list[tuple[str, str, int]]) -> list[tuple[str, str, dict]]:
    """Run one thread per ``(library, thread tag, writes)`` entry; each
    thread upserts its chunks one by one. Returns (library, id, reply) for
    every write, an exception counting as a reply."""
    replies: list[tuple[str, str, dict]] = []
    lock = threading.Lock()
    start = threading.Barrier(len(plan))

    def writer(lib: str, tag: str, n: int) -> None:
        start.wait(timeout=JOIN_TIMEOUT_S)
        for i in range(n):
            cid = f"{lib}-{tag}-{i}"
            body = {"id": cid, "text": cid, "position": i,
                    "embedding": [1.0, float(i), 0.0, 0.0]}
            try:
                out = fac.upsert_chunk(lib, f"d{lib}", body)
            except Exception as e:  # noqa: BLE001 — a 500 on the HTTP front
                out = {"status": 500, "error": repr(e)}
            with lock:
                replies.append((lib, cid, out))

    threads = [threading.Thread(target=writer, args=p, daemon=True) for p in plan]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=JOIN_TIMEOUT_S)
    assert not any(t.is_alive() for t in threads), "a writer did not finish"
    return replies


def _assert_all_acknowledged(fac, replies, expected: int) -> None:
    assert len(replies) == expected
    failed = [(cid, r) for _, cid, r in replies if r["status"] != 200]
    assert not failed, failed
    for lib, cid, _ in replies:
        assert fac.get_chunk(cid, library_id=lib)["status"] == 200, cid


def test_writers_on_one_library(shared):
    replies = _drill(shared, [("A", f"t{k}", 3) for k in range(3)])
    _assert_all_acknowledged(shared, replies, 9)


def test_writers_on_two_libraries(shared):
    replies = _drill(shared, [("A", "u0", 2), ("A", "u1", 2),
                              ("B", "u0", 2), ("B", "u1", 2)])
    _assert_all_acknowledged(shared, replies, 8)
    # the versions each write reported are the ones the rows hold
    for lib, cid, r in replies:
        assert shared.get_chunk(cid)["data"] == r["data"]
