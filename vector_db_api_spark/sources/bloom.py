"""Per-partition id bloom filters, colocated with partition data dirs.

Why: the global chunk-id invariant (reference keeps ALL chunks in one dict
keyed by id, repos/chunks.py:8) needs every upsert to prove the incoming ids
don't already live in ANOTHER library. Scanning the other partitions —
however well pushed down — lists and footer-opens the whole table per
mutation (r6 advice: the one remaining O(table) touch on the write hot
path). Instead, each partition directory carries a tiny ``_ID_BLOOM.json``
sidecar summarizing its id set; the 409 check walks the live manifest and
tests membership DRIVER-SIDE — zero Spark jobs, zero file listing — and only
a bloom hit (true duplicate or false positive) pays a partition-pruned
verify scan of that one partition.

Design points:

- The sidecar lives INSIDE the partition's generation directory
  (``v=N/library_id=X/_ID_BLOOM.json``), so the copy-on-write manifest
  carries it forward with the data for free: an untouched partition's bloom
  stays valid because its files are immutable. Spark ignores ``_``-prefixed
  files in a parquet directory (the ``_SUCCESS`` convention).
- Every sidecar is EXACT: its bitmap has precisely the bits of the ids its
  partition holds, for ``m_bits = size_bits(n)`` with ``n`` the
  partition's row count. So deletes never leave stale bits, and a sidecar
  is a pure function of the partition's id set and row count.
- Two ways to build one, byte-identical by that definition. The bloom of
  a union of id sets is the OR of their blooms (a bit is set iff some id
  of either set sets it), so a write that only ADDS or REPLACES ids — an
  upsert, a document create, a metadata update — publishes
  ``previous bitmap | bits(added ids)`` with :func:`add_ids`, on the
  driver, with no job. That equals :func:`build_bloom` over the new
  partition exactly when ``size_bits(n)`` did not change, since the bit
  positions depend on ``m_bits``. :func:`build_bloom`, which reads the
  written ids, runs instead when the sizing grows, when the partition had
  no sidecar (a legacy generation), and for every write that removes ids
  (deletes, cascades, moves): OR-ing cannot clear the bits of a removed
  id. ``n`` comes from the write itself (an ``Observation``), not a count
  job.
- Hashing is plain ``md5`` with the Kirsch-Mitzenmacher double-hash scheme
  (k positions from one digest), computed IN PYTHON both when building
  (inside an Arrow-batched ``mapInPandas`` for a large partition, else on
  the driver) and when testing membership on the driver —
  bit-identical by construction, no dependence on JVM hash
  internals.
- A missing sidecar (legacy generation, non-id table) simply means "no
  summary": callers fall back to the scan for that partition. False
  positives cost one verify scan; false negatives cannot happen, so the
  409 invariant is never weakened.

At 100 TB: a 10M-chunk library partition gets a ~1.7 MiB sidecar
(12 bits/id, fpr ≈ 0.3% with k=7) written once per mutation of that
partition; the check itself is O(#partitions × #incoming ids) driver work
against cached, immutable sidecars.
"""

from __future__ import annotations

import base64
import hashlib
import os

from pyspark.sql import DataFrame

BLOOM_FILE = "_ID_BLOOM.json"
BITS_PER_ELEMENT = 12  # fpr ~= 0.3% at k=7
NUM_HASHES = 7
MIN_BITS = 1 << 11          # 2 Kib floor: tiny partitions still round up
MAX_BITS = 1 << 26          # 8 MiB ceiling; beyond, fpr degrades gracefully
#: the most ids the driver hashes itself: :func:`build_bloom` collects a
#: partition of at most this many rows instead of running a distributed
#: pass, and the engine checks a write batch of at most this many rows on
#: the driver (``Engine.GLOBAL_ID_CHECK_MAX_DRIVER_IDS``)
MAX_DRIVER_IDS = 10_000


def hash_pair(value: str) -> tuple[int, int]:
    """(h1, h2) double-hash basis for ``value`` — one md5, reusable across
    blooms of any size (positions are derived per-bloom by modulus)."""
    d = hashlib.md5(value.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


def _positions(value: str, m_bits: int, k: int = NUM_HASHES) -> list[int]:
    """k bit positions for ``value`` — one md5, double-hashed (K-M)."""
    h1, h2 = hash_pair(value)
    return [(h1 + i * h2) % m_bits for i in range(k)]


def size_bits(n_rows: int) -> int:
    """Power-of-two sizing from the exact element count."""
    need = max(MIN_BITS, n_rows * BITS_PER_ELEMENT)
    m = MIN_BITS
    while m < need and m < MAX_BITS:
        m <<= 1
    return m


def _set_bits(bitmap, ids, m_bits: int) -> None:
    """OR the bits of every non-NULL id in ``ids`` into ``bitmap``."""
    for v in ids:
        if v is None:
            continue
        for pos in _positions(str(v), m_bits):
            bitmap[pos >> 3] |= 1 << (pos & 7)


def _descriptor(bitmap: bytes, m_bits: int, n_rows: int) -> dict:
    return {
        "format": 1,
        "m_bits": m_bits,
        "k": NUM_HASHES,
        "n": n_rows,
        "bitmap": base64.b64encode(bitmap).decode("ascii"),
    }


def build_bloom(ids: DataFrame, id_col: str, n_rows: int) -> dict:
    """Exact bloom descriptor for a DataFrame's id column of ``n_rows``
    rows.

    Up to MAX_DRIVER_IDS rows, the ids are collected (one job, no Python
    worker) and hashed on the driver: a serving engine runs few Python
    jobs, so a distributed pass would mostly pay for starting its workers.
    Above, one distributed pass: each Arrow batch ORs its ids into a
    per-task bitmap (numpy), tasks yield their bitmap once, and the driver
    ORs the ≤ #tasks partial bitmaps — bounded driver memory, no position
    shuffle. Both set the bits :func:`_positions` gives.
    """
    if n_rows <= MAX_DRIVER_IDS:
        collected = (r[0] for r in ids.select(id_col).collect())
        return add_ids(empty_bloom(n_rows), collected, n_rows)
    import numpy as np
    import pandas as pd

    m_bits = size_bits(n_rows)
    n_bytes = m_bits // 8

    def partials(batches):
        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if pdf[id_col].notna().any():
                any_rows = True
            _set_bits(bitmap, pdf[id_col], m_bits)
        if any_rows:
            yield pd.DataFrame({"bitmap": [bitmap.tobytes()]})

    parts = ids.select(id_col).mapInPandas(partials, schema="bitmap binary")
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts.collect():
        acc |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return _descriptor(acc.tobytes(), m_bits, n_rows)


def empty_bloom(n_rows: int) -> dict:
    """The decoded bloom of an empty id set, sized for ``n_rows``."""
    m_bits = size_bits(n_rows)
    return {"format": 1, "m_bits": m_bits, "k": NUM_HASHES, "n": 0,
            "bitmap": bytes(m_bits // 8)}


def add_ids(prev: dict, ids, n_rows: int) -> dict | None:
    """The descriptor :func:`build_bloom` would build over ``prev``'s id
    set plus ``ids``, now ``n_rows`` rows: ``prev``'s bitmap OR the bits of
    ``ids``, built on the driver. ``prev`` is decoded (:func:`load_bloom`).
    None when ``size_bits(n_rows)`` differs from ``prev``'s size — the
    positions then differ and only the exact build is byte-identical."""
    m_bits = size_bits(n_rows)
    if prev["m_bits"] != m_bits or prev["k"] != NUM_HASHES:
        return None
    bitmap = bytearray(prev["bitmap"])
    _set_bits(bitmap, ids, m_bits)
    return _descriptor(bytes(bitmap), m_bits, n_rows)


def decode(bloom: dict) -> dict:
    """A descriptor with its bitmap decoded to bytes, as :func:`load_bloom`
    returns it."""
    return dict(bloom, bitmap=base64.b64decode(bloom["bitmap"]))


def write_bloom(partition_dir: str, bloom: dict, fs=None) -> None:
    """Publish the sidecar atomically. ``fs`` is an :mod:`.fsio` filesystem
    (the store passes its own, so blooms follow the root's scheme —
    local, file://, hdfs://, s3a://); defaults to local-path IO."""
    from vector_db_api_spark.sources import fsio

    fsio.write_json_atomic(
        fs or fsio.LOCAL, os.path.join(partition_dir, BLOOM_FILE), bloom
    )


def load_bloom(partition_dir: str, fs=None) -> dict | None:
    """Decoded bloom (bitmap as bytes) or None when absent/unreadable."""
    from vector_db_api_spark.sources import fsio

    raw = fsio.read_json(fs or fsio.LOCAL, os.path.join(partition_dir, BLOOM_FILE))
    try:
        if raw is None or raw.get("format") != 1:
            return None
        return decode(raw)
    except (KeyError, ValueError):
        return None


def might_contain(bloom: dict, value: str) -> bool:
    h1, h2 = hash_pair(str(value))
    return might_contain_hashed(bloom, h1, h2)


def might_contain_hashed(bloom: dict, h1: int, h2: int) -> bool:
    """Membership from a precomputed :func:`hash_pair` — the batch-check
    fast path (one md5 per id total, not per id × partition)."""
    bitmap, m_bits = bloom["bitmap"], bloom["m_bits"]
    for i in range(bloom["k"]):
        pos = (h1 + i * h2) % m_bits
        if not bitmap[pos >> 3] & (1 << (pos & 7)):
            return False
    return True
