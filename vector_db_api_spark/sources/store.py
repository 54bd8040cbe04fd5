"""Parquet-backed entity store: versioned MANIFEST snapshots with
partition-scoped copy-on-write and atomic pointer-flip publish.

The reference keeps entities in in-memory dicts behind RW locks
(repos/libraries.py:8, repos/documents.py:8-9, repos/chunks.py:8-10), and its
per-library write lock (services/chunk.py:87-88) already scopes every chunk
mutation to ONE library. On Spark the durable equivalent is:

- physical data lives in immutable generation directories
  ``<root>/<table>/v=<N>/<part>=<value>/`` written by normal parquet jobs;
- snapshot ``N`` is a tiny JSON **manifest**
  ``<root>/<table>/_manifests/v=<N>.json`` mapping each partition value to
  the generation subdirectory holding its current data — entries may point
  at OLDER generations (copy-on-write: a mutation writes only the partitions
  its rows touch and re-references the rest);
- a single JSON **catalog** ``<root>/_CATALOG`` maps every table to its live
  version, rewritten atomically (write temp + rename-overwrite, scheme-
  dispatched through :mod:`.fsio` so ``hdfs://``/``s3a://`` roots work) AFTER
  the manifests — the reference's ``registry.swap`` (indexing/registry.py:33-35)
  generalized to data. One file for ALL tables makes multi-table mutations
  (cascade delete, move) a single commit point: :meth:`transaction` stages
  each table's generation + manifest and flips the catalog once, so a crash
  can never publish ``documents`` without its matching ``chunks``. Legacy
  stores with per-table ``<table>/_CURRENT`` pointers remain readable; the
  first publish migrates them into the catalog.

Why manifests matter at 100 TB: the previous design republished a FULL table
snapshot per mutation, so a one-chunk upsert on a 100 TB ``chunks`` table
rewrote 100 TB. With manifests, ``write_partitions`` rewrites only the
touched ``library_id`` partitions (KBs–GBs) and the new manifest re-points
every untouched partition at its existing files — the write cost is
O(touched partitions), never O(table).

Crash-safety: a failure mid-write leaves a dangling ``v=N+1`` generation
and/or manifest with an untouched pointer — the live table is never corrupt.
``vacuum`` removes old manifests and any partition directory no remaining
manifest references.

Snapshot isolation: readers resolve the pointer once per query and then read
immutable files; concurrent mutations publish new manifests without touching
the files an in-flight reader holds (the reference needs locks for this;
immutable generations don't).

Schema DDL follows SURVEY.md §1.3 (models/entities.py:12-60,
models/metadata.py:7-26). ``chunks``/``documents`` are partitioned by
``library_id`` — the reference's ``_by_library`` secondary index
(repos/chunks.py:9-10) becomes manifest-level partition pruning:
``read(table, partitions=[lib])`` lists only that library's directories.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import OrderedDict
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from functools import reduce
from typing import NamedTuple
from urllib.parse import unquote

import numpy as np

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from vector_db_api_spark.session import local_frame
from vector_db_api_spark.sources import bloom as B
from vector_db_api_spark.sources import fsio

BASE_METADATA = (
    "source_uri string, author string, lang string, mime_type string, "
    "tags array<string>"
)

LIBRARIES_DDL = (
    "id string, name string, embedding_dim int, "
    "index_config struct<type:string, lsh_num_tables:int, "
    "lsh_hyperplanes_per_table:int, ivf_num_centroids:int, ivf_nprobe:int, "
    "ivf_max_kmeans_iters:int, layout:string>, "
    f"metadata struct<{BASE_METADATA}, description:string>, "
    "created_at timestamp, updated_at timestamp, version int"
)

DOCUMENTS_DDL = (
    "id string, library_id string, "
    f"metadata struct<{BASE_METADATA}, title:string, summary:string, sha256:string>, "
    "created_at timestamp, updated_at timestamp, version int"
)

CHUNKS_DDL = (
    "id string, library_id string, document_id string, position int, "
    "text string, embedding array<float>, "
    f"metadata struct<{BASE_METADATA}, page_number:int, token_count:int, sha256:string>, "
    "created_at timestamp, updated_at timestamp, version int"
)

TABLE_DDL = {"libraries": LIBRARIES_DDL, "documents": DOCUMENTS_DDL, "chunks": CHUNKS_DDL}
PARTITION_COLS = {"chunks": ["library_id"], "documents": ["library_id"]}

_ALL = "__ALL__"  # manifest key for non-partitioned tables: whole generation

#: bytes all cached chunk-partition snapshots (:meth:`EntityStore.
#: partition_rows`) may hold on the driver together; the least recently
#: used go first, and a larger snapshot stays on Spark. Set where reading a
#: snapshot stops paying for itself when it is evicted before its next
#: search (tools/snapshot_crossover.py, BENCH_SCALE.md, 4 vCPUs): 10,000
#: rows of 1,536-d, 60 MiB, load and search in 543 ms against a 592 ms
#: Spark search; 10,000 of 3,072-d, 118 MiB, in 1,034 against 954 ms
SNAPSHOT_BYTES = 64 << 20


class PartitionRows(NamedTuple):
    """One chunks partition as a driver-side search reads it: each row's
    id, its hit columns ``(document_id, position, text, tags, author,
    created_at)`` with ``created_at`` in microseconds since the epoch, and
    the embeddings as stored, one float32 row each (zeros where a row has
    none, which ``embedded`` marks). Ids are unique and not NULL, every
    embedding has the library's dim and only finite values: a partition
    that breaks any of this is never held (see :meth:`load`)."""

    ids: list
    hits: list
    emb: np.ndarray
    embedded: np.ndarray

    @classmethod
    def empty(cls, dim: int) -> "PartitionRows":
        return cls([], [], np.zeros((0, dim), np.float32), np.zeros(0, bool))

    @classmethod
    def load(cls, frame: DataFrame, dim: int) -> "PartitionRows | None":
        """The snapshot of a partition's rows (one job), or None when they
        break the invariants above."""
        t = frame.select(
            "id", "document_id", "position", "text",
            F.col("metadata.tags").alias("tags"),
            F.col("metadata.author").alias("author"),
            F.unix_micros("created_at").alias("created_at"), "embedding",
        ).toArrow()
        ids = t.column("id").to_pylist()
        if None in ids or len(set(ids)) != len(ids):
            return None
        emb = t.column("embedding").combine_chunks()
        embedded = ~np.asarray(emb.is_null(), dtype=bool)
        values = emb.flatten()
        lengths = np.asarray(emb.value_lengths().fill_null(dim))
        if values.null_count or (lengths != dim).any():
            return None
        mat = np.zeros((len(ids), dim), np.float32)
        mat[embedded] = values.to_numpy().reshape(-1, dim)
        if not np.isfinite(mat).all():
            return None
        cols = [t.column(c).to_pylist() for c in (
            "document_id", "position", "text", "tags", "author", "created_at")]
        return cls(ids, list(zip(*cols)), mat, embedded)

    @staticmethod
    def base_bytes(n: int, dim: int) -> int:
        """What :meth:`nbytes` counts of ``n`` rows before their texts:
        the matrix and ~100 bytes a row of Python objects."""
        return 4 * n * dim + 100 * n

    def nbytes(self) -> int:
        """About what the snapshot holds: :meth:`base_bytes` and its texts."""
        texts = sum(len(h[2]) for h in self.hits if h[2] is not None)
        return self.base_bytes(*self.emb.shape) + texts

    def without(self, ids) -> "PartitionRows":
        """The partition after ``ids`` are deleted."""
        gone = set(ids)
        keep = [i for i, x in enumerate(self.ids) if x not in gone]
        return PartitionRows(
            [self.ids[i] for i in keep], [self.hits[i] for i in keep],
            self.emb[keep], self.embedded[keep],
        )

    def merged(self, rows: list, stamp: int) -> "PartitionRows":
        """The partition after a MERGE of ``rows`` — ``(id, document_id,
        position, text, tags, author, embedding)`` with distinct ids —
        stamped ``stamp`` (:func:`operators.mutations.upsert`): a replaced
        id keeps its ``created_at`` unless that is NULL, every other row
        takes the stamp."""
        new = {r[0] for r in rows}
        keep = [i for i, x in enumerate(self.ids) if x not in new]
        created = {x: h[5] for x, h in zip(self.ids, self.hits) if x in new}
        mat = np.zeros((len(rows), self.emb.shape[1]), np.float32)
        for j, r in enumerate(rows):
            if r[6] is not None:
                mat[j] = r[6]
        c = [created.get(r[0]) for r in rows]
        return PartitionRows(
            [self.ids[i] for i in keep] + [r[0] for r in rows],
            [self.hits[i] for i in keep]
            + [(*r[1:6], stamp if s is None else s) for r, s in zip(rows, c)],
            np.concatenate([self.emb[keep], mat]),
            np.concatenate([self.embedded[keep],
                            np.array([r[6] is not None for r in rows], bool)]),
        )


def _fits(n: int, dim: int) -> bool:
    """Whether a partition of ``n`` rows of ``dim``-wide embeddings may be
    one the driver holds and searches (:meth:`EntityStore.partition_rows`):
    at most ``bloom.MAX_DRIVER_IDS`` rows — at d=64 a snapshot of 10,000
    loads and searches in 165–177 ms against a 293–330 ms Spark search, one
    of 40,000 in 443–529 ms against 476–484 (BENCH_SCALE.md) — and the part
    of its size known before a load within SNAPSHOT_BYTES. The whole size
    is checked once the rows are read (:meth:`EntityStore._hold`)."""
    return n <= B.MAX_DRIVER_IDS and PartitionRows.base_bytes(n, dim) <= SNAPSHOT_BYTES


def _ddl_field_names(ddl: str) -> list[str]:
    """Top-level field names of a DDL string (used to normalize column order
    across generation scans, where partition columns come back last)."""
    names, depth, token = [], 0, []
    for ch in ddl:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            names.append("".join(token).strip().split()[0])
            token = []
        else:
            token.append(ch)
    if token:
        names.append("".join(token).strip().split()[0])
    return names


class EntityStore:
    """Versioned manifest snapshots with partition-scoped copy-on-write."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        # metadata IO (catalog/manifests/blooms) is scheme-dispatched: plain
        # paths use os APIs, URI roots (file://, hdfs://, s3a://) go through
        # the Hadoop FileSystem — the data files already do, via Spark
        self._fs = fsio.fs_for(root, spark)
        # staged {table: version} while a transaction() is open, else None
        self._txn: dict[str, int] | None = None
        # side-effects queued by after_commit() while a transaction is open
        self._post_commit: list = []
        # (table, generation-relative partition path) → decoded id sidecar /
        # id set; the path is immutable once written, so neither goes stale
        # (rolled-back staged paths are dropped, _remove_versions_above)
        self._bloom_cache: dict[tuple[str, str], dict | None] = {}
        self._id_cache: dict[tuple[str, str], frozenset] = {}
        # the same key → [PartitionRows or None (not servable: its rows
        # break PartitionRows' invariants or alone exceed SNAPSHOT_BYTES),
        # how it was made: "loaded"/"derived", "hit" once served, its
        # nbytes()], in LRU order under SNAPSHOT_BYTES; searches read it
        # without the engine's write lock
        self._rows: OrderedDict[tuple[str, str], list] = OrderedDict()
        self._rows_lock = threading.Lock()
        self._fs.makedirs(root)

    # -- pointer management -------------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer_path(self, table: str) -> str:
        """Legacy per-table pointer (pre-catalog layout) — read-only now."""
        return os.path.join(self._table_dir(table), "_CURRENT")

    def _catalog_path(self) -> str:
        return os.path.join(self.root, "_CATALOG")

    def _manifest_path(self, table: str, version: int) -> str:
        return os.path.join(self._table_dir(table), "_manifests", f"v={version}.json")

    def _load_catalog(self) -> dict | None:
        """``{table: live version}`` from the store catalog, or None when the
        store predates catalogs (or is empty)."""
        raw = fsio.read_json(self._fs, self._catalog_path())
        return raw.get("versions") if raw is not None else None

    def _legacy_pointer_version(self, table: str) -> int | None:
        raw = fsio.read_json(self._fs, self._pointer_path(table))
        return raw.get("version") if raw is not None else None

    def staged(self, table: str) -> bool:
        """Whether the open :meth:`transaction` has staged a version of
        ``table``. Such a version is visible to this writer only, and a
        rollback deletes it, so the next write can reuse its number."""
        return self._txn is not None and table in self._txn

    def current_version(self, table: str) -> int | None:
        """Live version of ``table``. Inside an open :meth:`transaction`,
        the writer sees its own staged (not yet committed) version —
        read-your-writes, so a later statement in the same transaction
        reads the earlier statement's output. Other readers keep seeing
        the committed catalog until the single commit flip."""
        if self._txn is not None and table in self._txn:
            return self._txn[table]
        return self.committed_version(table)

    def committed_version(self, table: str) -> int | None:
        """Version of ``table`` the catalog names, ignoring any version an
        open :meth:`transaction` has staged."""
        cat = self._load_catalog()
        if cat is not None and table in cat:
            return cat[table]
        return self._legacy_pointer_version(table)

    def _flip(self, table: str, version: int) -> None:
        self._flip_many({table: version})

    def _flip_many(self, updates: dict[str, int]) -> None:
        """Atomic publish of one or more tables: rewrite the catalog via
        temp file + rename-overwrite (POSIX-atomic locally; NameNode-atomic
        on HDFS; atomic single-key PUT visibility on object stores — see
        fsio). The first flip over a legacy store folds every per-table
        ``_CURRENT`` into the catalog so no table loses its version.
        Read-modify-replace is serialized by ``fs.lock`` (flock on local
        roots; remote roots run the documented single-writer contract) —
        the generation-directory ``errorifexists`` collision check only
        serializes writers of the SAME table, so two engines publishing
        DIFFERENT tables could otherwise each replace the catalog from the
        same stale read and silently drop the other's committed version."""
        with self._fs.lock(os.path.join(self.root, "_CATALOG.lock")):
            cat = self._load_catalog()
            versions = dict(cat) if cat is not None else {
                t: v
                for t in TABLE_DDL
                if (v := self._legacy_pointer_version(t)) is not None
            }
            versions.update(updates)
            fsio.write_json_atomic(
                self._fs,
                self._catalog_path(),
                {"versions": versions, "published_at": time.time()},
            )

    # -- manifests ----------------------------------------------------------

    def _write_manifest(self, table: str, version: int, partitions: dict) -> None:
        mdir = os.path.dirname(self._manifest_path(table, version))
        self._fs.makedirs(mdir)
        fsio.write_json_atomic(
            self._fs,
            self._manifest_path(table, version),
            {"partitions": partitions, "written_at": time.time()},
        )

    def load_manifest(self, table: str, version: int) -> dict:
        """Partition-value → generation-relative data path for a snapshot.
        Falls back to synthesizing one from a pre-manifest ``v=N`` directory
        (legacy full-snapshot layout) so old stores stay readable."""
        try:
            return json.loads(
                self._fs.read_text(self._manifest_path(table, version))
            )["partitions"]
        except FileNotFoundError:
            gen = f"v={version}"
            legacy = os.path.join(self._table_dir(table), gen)
            if not self._fs.isdir(legacy):
                return {}
            parts = PARTITION_COLS.get(table)
            if parts:
                return self._scan_generation(table, gen, parts)
            return {_ALL: gen}

    def _scan_generation(self, table: str, gen: str, parts: list[str]) -> dict:
        """Enumerate ``<part>=<value>`` subdirs a partitioned write produced.
        Values are unescaped from Spark's %-escaped dir names."""
        gdir = os.path.join(self._table_dir(table), gen)
        prefix = parts[0] + "="
        out = {}
        if self._fs.isdir(gdir):
            for name in self._fs.listdir(gdir):
                if name.startswith(prefix) and self._fs.isdir(
                    os.path.join(gdir, name)
                ):
                    out[unquote(name[len(prefix):])] = f"{gen}/{name}"
        return out

    # -- read ---------------------------------------------------------------

    def _empty(self, table: str) -> DataFrame:
        return local_frame(self.spark, [], TABLE_DDL[table])

    def read(
        self,
        table: str,
        partitions: list | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Current snapshot as a DataFrame. ``partitions`` restricts the scan
        to the named partition values at MANIFEST level — only those
        directories are listed/opened, the store-level analogue of static
        partition pruning (the reference's ``_by_library`` index lookup).
        ``version`` reads that snapshot instead of the current one."""
        v = self.current_version(table) if version is None else version
        if v is None:
            return self._empty(table)
        manifest = self.load_manifest(table, v)
        if partitions is not None and _ALL not in manifest:
            wanted = {str(p) for p in partitions}
            manifest = {k: p for k, p in manifest.items() if k in wanted}
        if not manifest:
            return self._empty(table)

        ddl = TABLE_DDL[table]
        tdir = self._table_dir(table)
        if _ALL in manifest:
            # Non-partitioned (or legacy) snapshot: one directory scan.
            # Explicit schema: an emptied table may have no part files.
            df = self.spark.read.schema(ddl).parquet(
                os.path.join(tdir, manifest[_ALL])
            )
            return df.select(*_ddl_field_names(ddl))

        # Copy-on-write snapshot: entries may span several generations; each
        # generation is one scan with basePath so the partition column is
        # recovered from the dir name, then the scans union (same schema).
        by_gen: dict[str, list[str]] = {}
        for rel in manifest.values():
            by_gen.setdefault(rel.split("/", 1)[0], []).append(rel)
        frames = []
        for gen in sorted(by_gen):
            paths = [os.path.join(tdir, rel) for rel in sorted(by_gen[gen])]
            frames.append(
                self.spark.read.schema(ddl)
                .option("basePath", os.path.join(tdir, gen))
                .parquet(*paths)
            )
        cols = _ddl_field_names(ddl)
        return reduce(DataFrame.unionByName, [f.select(*cols) for f in frames])

    # -- partition id blooms ------------------------------------------------

    def _write_partition_blooms(
        self,
        table: str,
        fresh: dict,
        counts: dict,
        old: dict,
        adds: list | None,
        rows: Callable | None = None,
    ) -> None:
        """``_ID_BLOOM.json`` sidecar for every just-written partition dir
        (see sources/bloom.py); untouched partitions keep theirs because the
        manifest re-references their immutable dirs. ``counts`` holds each
        partition's row count, observed during the write. When the write
        only added or replaced ``adds`` and the previous sidecar keeps its
        size, the new one is that sidecar OR the added ids' bits, built on
        the driver; otherwise one column-pruned pass over the written ids
        builds it exactly — unless ``rows`` derived the partition's new
        snapshot (see :meth:`write_partitions`), whose ids it then hashes
        on the driver."""
        for part, rel in fresh.items():
            pdir = os.path.join(self._table_dir(table), rel)
            n = counts[part] if part in counts else self._ids(pdir).count()
            derived = None
            if rows is not None:
                # an absent partition derives from nothing (None); a present
                # one only from its held snapshot
                prev = self._held_rows(table, old[part]) if part in old else None
                if part not in old or prev is not None:
                    derived = rows(prev)
                if derived is not None and len(derived.ids) == n:
                    self._put_rows((table, rel), derived, "derived")
                else:
                    derived = None
            bloom = known = None
            if adds is not None:
                if part in old:
                    prev = self._cached_bloom(table, old[part])
                    known = self._id_cache.get((table, old[part]))
                else:  # a new partition: its previous id set is empty
                    prev, known = B.empty_bloom(n), frozenset()
                if prev is not None:
                    bloom = B.add_ids(prev, adds, n)
            if bloom is None and derived is not None:
                bloom = B.add_ids(B.empty_bloom(n), derived.ids, n)
            if bloom is None:
                bloom = B.build_bloom(self._ids(pdir), "id", n)
            B.write_bloom(pdir, bloom, fs=self._fs)
            self._bloom_cache[(table, rel)] = B.decode(bloom)
            if known is not None:
                self._id_cache[(table, rel)] = known | frozenset(adds)

    def _forget(self, keys: list) -> None:
        """Drop every cache entry of superseded partition paths."""
        with self._rows_lock:
            for key in keys:
                self._bloom_cache.pop(key, None)
                self._id_cache.pop(key, None)
                self._rows.pop(key, None)

    def _ids(self, pdir: str) -> DataFrame:
        # declared schema: inferring it would open a footer in a job
        return self.spark.read.schema("id string").parquet(pdir)

    def _cached_bloom(self, table: str, rel: str) -> dict | None:
        """The decoded sidecar of a generation-relative partition path,
        cached: the path is immutable once written (see
        :meth:`_remove_versions_above` for the one exception)."""
        key = (table, rel)
        if key not in self._bloom_cache:
            self._bloom_cache[key] = B.load_bloom(
                os.path.join(self._table_dir(table), rel), fs=self._fs
            )
        return self._bloom_cache[key]

    def partition_blooms(self, table: str) -> dict:
        """{partition value: decoded bloom or None} over the LIVE manifest."""
        v = self.current_version(table)
        if v is None:
            return {}
        manifest = self.load_manifest(table, v)
        if _ALL in manifest:
            return {}
        return {part: self._cached_bloom(table, rel) for part, rel in manifest.items()}

    def partition_ids(self, table: str, part: str) -> frozenset:
        """The ids of one live partition, collected once per
        generation-relative path and cached like the sidecars (a write that
        only adds ids derives the new path's set from the old one). An
        absent partition holds none."""
        v = self.current_version(table)
        manifest = {} if v is None else self.load_manifest(table, v)
        if _ALL in manifest:
            return frozenset(
                r["id"] for r in self.read(table, partitions=[part])
                .filter(F.col(PARTITION_COLS[table][0]) == part)
                .select("id").collect()
            )
        rel = manifest.get(str(part))
        if rel is None:
            return frozenset()
        key = (table, rel)
        if key not in self._id_cache:
            pdir = os.path.join(self._table_dir(table), rel)
            self._id_cache[key] = frozenset(
                r["id"] for r in self._ids(pdir).collect()
            )
        return self._id_cache[key]

    # -- partition row snapshots -------------------------------------------

    def partition_rows(
        self, table: str, part: str, dim: int
    ) -> tuple[PartitionRows | None, str | None]:
        """``(snapshot, how)`` of one committed partition for a search on the
        driver: ``how`` is ``"loaded"`` when this call read it (one job),
        ``"derived"`` when a write derived it and this is its first use,
        else ``"hit"``. ``(None, None)`` leaves the search to Spark: the
        partition's sidecar is missing or counts more than
        ``bloom.MAX_DRIVER_IDS`` rows, its snapshot would not fit
        SNAPSHOT_BYTES, its rows break :class:`PartitionRows`' invariants,
        or an open transaction has staged the table (its rows are this
        writer's until the commit). A snapshot found too large only once
        read (its texts count too) answers the search that read it, and its
        path is marked, so later searches go to Spark without reading it.

        Keyed like the sidecars by the generation-relative path, which
        names immutable files: a sibling engine's write publishes a new
        path, and the next search loads it. Only committed paths are
        loaded, so no entry can outlive a rollback, and a load is held only
        while the catalog still names its path."""
        if self.staged(table):
            return None, None
        v = self.committed_version(table)
        manifest = {} if v is None else self.load_manifest(table, v)
        if _ALL in manifest:
            return None, None
        rel = manifest.get(str(part))
        if rel is None:  # no partition: the library holds no rows
            return (PartitionRows.empty(dim), "hit") if _fits(0, dim) else (None, None)
        bloom = self._cached_bloom(table, rel)
        if bloom is None or not _fits(bloom["n"], dim):
            return None, None
        key = (table, rel)
        with self._rows_lock:
            entry = self._rows.get(key)
            if entry is not None:
                self._rows.move_to_end(key)
                how, entry[1] = entry[1], "hit"
                return (entry[0], how) if entry[0] is not None else (None, None)
        pdir = os.path.join(self._table_dir(table), rel)
        rows = PartitionRows.load(
            self.spark.read.schema(TABLE_DDL[table]).parquet(pdir), dim
        )
        with self._rows_lock:
            # a write that superseded the path during the load forgets it
            # after its flip (write_partitions), so it is not held again
            if self.committed_version(table) == v:
                self._hold(key, rows, "hit")
        return (rows, "loaded") if rows is not None else (None, None)

    def cached_rows(self, table: str, part: str) -> PartitionRows | None:
        """The held snapshot of ``part`` as this writer reads it (staged
        versions included), or None; never loads."""
        v = self.current_version(table)
        rel = None if v is None else self.load_manifest(table, v).get(str(part))
        return self._held_rows(table, rel)

    def _held_rows(self, table: str, rel: str | None) -> PartitionRows | None:
        with self._rows_lock:
            entry = self._rows.get((table, rel))
        return None if entry is None else entry[0]

    def _put_rows(self, key: tuple, rows: PartitionRows | None, how: str) -> None:
        with self._rows_lock:
            self._hold(key, rows, how)

    def _hold(self, key: tuple, rows: PartitionRows | None, how: str) -> None:
        """Hold ``rows`` under ``key`` (the caller holds ``_rows_lock``),
        then evict the least recently used snapshots past SNAPSHOT_BYTES.
        A snapshot that alone exceeds it is held as None, not servable;
        such marks take no bytes and are not evicted."""
        size = 0 if rows is None else rows.nbytes()
        if size > SNAPSHOT_BYTES:
            rows, size = None, 0
        self._rows[key] = [rows, how, size]
        self._rows.move_to_end(key)
        total = sum(e[2] for e in self._rows.values())
        for old in [k for k, e in self._rows.items() if e[2]]:
            if total <= SNAPSHOT_BYTES:
                break
            total -= self._rows.pop(old)[2]

    # -- write --------------------------------------------------------------

    def write(self, table: str, df: DataFrame) -> int:
        """FULL rewrite: next generation holds the whole table, manifest maps
        every partition into it, pointer flips. Readers resolving the old
        pointer keep a consistent snapshot (atomic registry swap,
        indexing/registry.py:33-35, applied to data). Use
        ``write_partitions`` for mutations — full rewrites are for bootstrap,
        tiny tables (``libraries``), and compaction."""
        cur = self.current_version(table)
        nxt = 1 if cur is None else cur + 1
        gen = f"v={nxt}"
        path = os.path.join(self._table_dir(table), gen)
        writer = df.write.mode("errorifexists")
        parts = PARTITION_COLS.get(table)
        if parts and all(p in df.columns for p in parts):
            writer = writer.partitionBy(*parts)
            writer.parquet(path)
            manifest = self._scan_generation(table, gen, parts)
            self._write_partition_blooms(table, manifest, {}, {}, None)
        else:
            writer.parquet(path)
            manifest = {_ALL: gen}
        self._write_manifest(table, nxt, manifest)
        self._publish(table, nxt)
        return nxt

    def write_partitions(
        self,
        table: str,
        df: DataFrame,
        touched: list,
        adds: Sequence[str] | None = None,
        rows: Callable[[PartitionRows | None], PartitionRows | None] | None = None,
    ) -> int:
        """Partition-scoped copy-on-write publish — the O(touched) mutation
        path. ``df`` is the complete NEW content of the ``touched``
        partition values (possibly empty → those partitions are dropped);
        every other partition is re-referenced from the previous manifest
        without its files being read, copied, or rewritten.

        This is what makes a single-chunk upsert on a 100 TB table a
        KB-scale write: the reference's per-library write lock
        (services/chunk.py:87-88) already promises mutations are scoped to
        one library, and the manifest turns that promise into IO.

        ``adds``: the ids this write adds to or replaces in its one touched
        partition, given only when it removes none — then the partition's
        id sidecar is derived from the previous one on the driver (see
        sources/bloom.py) instead of by a pass over the written ids.

        ``rows``: how the one touched partition's snapshot
        (:meth:`partition_rows`) follows from its previous one — None for
        an absent partition — when that is held; the result is held for the
        new path if its row count is the write's. The partition's exact
        sidecar is then built from its ids, with no job.

        Safety: rows landing outside ``touched`` would silently vanish on
        the next read (their partition entry still points at old data), so
        the written generation is checked against ``touched`` and the
        publish is aborted — generation removed, pointer untouched — on any
        stray partition.
        """
        parts = PARTITION_COLS.get(table)
        if not parts:
            raise ValueError(f"table {table!r} is not partitioned; use write()")
        touched_keys = sorted({str(t) for t in touched})
        if (adds is not None or rows is not None) and len(touched_keys) != 1:
            raise ValueError("adds and rows need exactly one touched partition")
        cur = self.current_version(table)
        nxt = 1 if cur is None else cur + 1
        old = {} if cur is None else self.load_manifest(table, cur)
        if _ALL in old:  # legacy whole-dir snapshot of a partitioned table
            old = self._scan_generation(table, old[_ALL], parts)

        gen = f"v={nxt}"
        path = os.path.join(self._table_dir(table), gen)
        # each touched partition's row count, observed while the write runs
        # (no job of its own): it sizes the partition's id sidecar
        counts = Observation()
        observed = df.observe(counts, *[
            F.count_if(F.col(parts[0]) == t).alias(str(i))
            for i, t in enumerate(touched_keys)
        ])
        observed.write.mode("errorifexists").partitionBy(*parts).parquet(path)
        fresh = self._scan_generation(table, gen, parts)
        stray = set(fresh) - set(touched_keys)
        if stray:
            self._fs.rmtree(path)
            raise ValueError(
                f"write_partitions: rows outside touched partitions {sorted(stray)}"
            )
        n = counts.get
        self._write_partition_blooms(
            table, fresh, {t: n[str(i)] for i, t in enumerate(touched_keys)},
            old, adds, rows,
        )
        manifest = {k: p for k, p in old.items() if k not in touched_keys}
        manifest.update(fresh)
        self._write_manifest(table, nxt, manifest)
        self._publish(table, nxt)
        # the superseded paths' entries go once the catalog names the new
        # ones: a rollback keeps the old paths live, and a search that
        # resolved an old path before the flip holds nothing after it (see
        # partition_rows)
        superseded = [(table, old[t]) for t in touched_keys if t in old]
        self.after_commit(lambda: self._forget(superseded))
        return nxt

    def after_commit(self, fn) -> None:
        """Run ``fn()`` once the surrounding :meth:`transaction` has
        COMMITTED — or immediately when no transaction is open.

        This is how non-transactional side-effects (the live ANN index
        delta/removal, which publishes through its own per-library pointer,
        not the store catalog) stay consistent with the store: queued inside
        a transaction, they never run for a rollback, and a commit-time flip
        failure drops them with the staged writes (r6 advice: pre-fix,
        ``upsert_chunks`` applied the index delta mid-transaction, so an
        aborted with-chunks create left the live index holding rows the
        store never published). A hook that raises AFTER the flip surfaces
        the error but cannot un-commit — the failure mode is "store new,
        index stale", which ``rebuild_index`` repairs (same crash story as
        the config-first ordering in ``update_index_config``)."""
        if self._txn is None:
            fn()
        else:
            self._post_commit.append(fn)

    def _publish(self, table: str, version: int) -> None:
        """Commit a staged generation+manifest: immediately when no
        transaction is open, else deferred to the transaction's single
        catalog flip."""
        if self._txn is not None:
            self._txn[table] = version
        else:
            self._flip(table, version)

    @contextmanager
    def transaction(self):
        """All-or-nothing multi-table publish.

        Every ``write``/``write_partitions`` inside the block stages its
        generation + manifest (durable but invisible — the catalog still
        names the old versions) and the block exit commits ALL tables with
        ONE atomic catalog replace. This is what makes cascade deletes and
        document moves crash-consistent: the reference mutates its three
        in-memory repos under one lock (services/library.py,
        services/document.py), so a reader never sees ``documents`` without
        the matching ``chunks`` — a crash between two independent pointer
        flips would break exactly that. Within the block the writer reads
        its own staged versions (read-your-writes); other readers see the
        old snapshot until commit.

        On exception the staged debris is reclaimed via :meth:`heal` and
        nothing is published. A crash inside the block behaves identically
        at next startup (Engine runs heal()). Not re-entrant."""
        if self._txn is not None:
            raise RuntimeError("nested transactions are not supported")
        self._txn = {}
        self._post_commit = []
        staged = self._txn  # captured: survives self._txn = None, so a
        try:                # commit-time flip failure still rolls back
            yield self
            self._txn = None
            if staged:
                self._flip_many(staged)
            hooks, self._post_commit = self._post_commit, []
            for fn in hooks:  # only after a successful flip (see after_commit)
                fn()
        except BaseException:
            self._txn = None
            self._post_commit = []
            for table in staged:
                # remove exactly the staged versions (all above the still-
                # committed catalog version; works for a fresh table too,
                # where heal()'s no-live-version guard would refuse)
                self._remove_versions_above(
                    table, self.current_version(table) or 0
                )
            raise

    # -- maintenance --------------------------------------------------------

    def heal(self, table: str) -> list[int]:
        """Remove UNPUBLISHED snapshot leftovers — generation dirs and
        manifests with a version above the live pointer, abandoned by a
        writer that crashed between the parquet write and the pointer
        flip. Without this, every later write recomputes ``nxt = live+1``
        and fails ``errorifexists`` on the debris, wedging the table
        read-only (r6 review finding). Returns the versions removed.

        SAFETY: when the table has no resolvable live version but data
        exists on disk, heal REFUSES to act. A missing/corrupt ``_CATALOG``
        on a migrated store must read as "pointer lost, data recoverable",
        not "version 0, delete everything" — without this guard a startup
        heal over a damaged catalog would destroy every generation. The
        only no-live-version case heal still cleans is a table the
        (readable) catalog genuinely doesn't know AND whose on-disk shape
        is exactly what a crashed FIRST write leaves: no legacy
        ``_CURRENT`` pointer file (even an unreadable one means the table
        once published and its pointer was LOST — the catalog may have
        been created by another table's publish without migrating this
        one), and no generation or manifest beyond ``v=1`` (a first write
        that never committed can only have staged version 1; anything
        higher proves a past publish whose tracking is damaged). Refusing
        costs nothing — the debris only wedges the next WRITE, and a
        half-migrated table needs operator attention before writes anyway.

        ONLY call this when no writer is in flight (startup/bootstrap is
        the natural spot — the same single-writer assumption the
        errorifexists collision check serializes on): a concurrent
        writer's half-written generation is indistinguishable from crash
        debris."""
        tdir = self._table_dir(table)
        if not self._fs.isdir(tdir):
            return []
        live = self.current_version(table)
        if live is None:
            has_data = any(
                name.startswith("v=") for name in self._fs.listdir(tdir)
            ) or self._fs.isdir(os.path.join(tdir, "_manifests"))
            if not has_data:
                return []
            if self._load_catalog() is None:
                # catalog unreadable/missing yet table data exists on disk:
                # damage, not debris — never delete
                return []
            if self._fs.exists(self._pointer_path(table)):
                # a legacy _CURRENT exists (readable or not): this table
                # published before the catalog era and its pointer is now
                # unreadable — lost tracking, not a crashed first write
                return []
            staged = {
                int(n[2:])
                for n in self._fs.listdir(tdir)
                if n.startswith("v=") and n[2:].isdigit()
            }
            mdir = os.path.join(tdir, "_manifests")
            if self._fs.isdir(mdir):
                staged.update(
                    int(n[2:-5])
                    for n in self._fs.listdir(mdir)
                    if n.startswith("v=") and n.endswith(".json") and n[2:-5].isdigit()
                )
            if staged - {1}:
                # generations/manifests beyond v=1 can only exist after a
                # publish — the table's version record is damaged
                return []
            live = 0  # readable catalog, table unknown → crashed first write
        return self._remove_versions_above(table, live)

    def _remove_versions_above(self, table: str, floor: int) -> list[int]:
        """Unconditionally remove generation dirs + manifests with version
        > ``floor``. Shared by :meth:`heal` (floor = live version, with its
        safety guards) and transaction rollback (floor = committed version;
        staged versions are by construction above it)."""
        tdir = self._table_dir(table)
        if not self._fs.isdir(tdir):
            return []
        removed = []
        for name in self._fs.listdir(tdir):
            if name.startswith("v=") and name[2:].isdigit() and int(name[2:]) > floor:
                self._fs.rmtree(os.path.join(tdir, name))
                removed.append(int(name[2:]))
        mdir = os.path.join(tdir, "_manifests")
        if self._fs.isdir(mdir):
            for name in self._fs.listdir(mdir):
                if name.startswith("v=") and name.endswith(".json"):
                    core = name[2:-5]
                    if core.isdigit() and int(core) > floor:
                        self._fs.remove(os.path.join(mdir, name))
                        if int(core) not in removed:
                            removed.append(int(core))
        # Drop cached sidecars, id sets and row snapshots of the removed
        # generations: the cache key (table, 'v=N/part') assumes the path is
        # immutable, but a rolled-back txn deletes staged v=N and the NEXT
        # write recreates the same rel with different rows — a stale cached
        # bloom would then yield false negatives and silently bypass the
        # global-id 409 check, a stale id set would pass an orphan chunk, a
        # stale snapshot would answer searches with rolled-back rows.
        if removed:
            prefixes = tuple(f"v={v}/" for v in removed)
            exact = {f"v={v}" for v in removed}
            with self._rows_lock:
                for cache in (self._bloom_cache, self._id_cache, self._rows):
                    for key in [
                        k for k in cache
                        if k[0] == table
                        and (k[1].startswith(prefixes) or k[1] in exact)
                    ]:
                        del cache[key]
        return sorted(removed)

    def compact(self, table: str) -> int:
        """Collapse a many-generation manifest into ONE fresh generation (a
        full rewrite through :meth:`write`). Distinct referenced
        generations are bounded by the partition count — each partition
        points at the generation of its last rewrite — so this is optional
        hygiene for listing speed / small-file cleanup, not a correctness
        need. Superseded generations are reclaimed by the next
        :meth:`vacuum`."""
        return self.write(table, self.read(table))

    def versions(self, table: str) -> list[int]:
        """Snapshot versions with a manifest (plus legacy ``v=N`` dirs that
        predate manifests)."""
        tdir = self._table_dir(table)
        found = set()
        mdir = os.path.join(tdir, "_manifests")
        if self._fs.isdir(mdir):
            for name in self._fs.listdir(mdir):
                if name.startswith("v=") and name.endswith(".json"):
                    core = name[2:-5]
                    if core.isdigit():
                        found.add(int(core))
        if self._fs.isdir(tdir):  # legacy dirs count only below the live version
            live = self.current_version(table) or 0
            for name in self._fs.listdir(tdir):
                if name.startswith("v=") and name[2:].isdigit():
                    v = int(name[2:])
                    if v <= live and v not in found:
                        found.add(v)
        return sorted(found)

    def vacuum(self, table: str, keep: int = 2) -> list[int]:
        """Drop snapshots older than the newest ``keep`` (never the live
        one), then reclaim every partition directory no surviving manifest
        references. Returns removed snapshot versions.

        Copy-on-write makes this reference-counted at partition granularity:
        a generation dir survives as long as ANY kept manifest points into
        it; within a partially-superseded generation, only the superseded
        partition subdirs are reclaimed.
        """
        tdir = self._table_dir(table)
        if not self._fs.isdir(tdir):
            return []
        versions = self.versions(table)
        live = self.current_version(table)
        removable = [v for v in versions[:-keep] if v != live] if keep else [
            v for v in versions if v != live
        ]
        kept = [v for v in versions if v not in removable]

        # 1. drop old manifests (and any same-version legacy full dirs that
        #    no longer back a kept snapshot)
        for v in removable:
            self._fs.remove(self._manifest_path(table, v))

        # 2. collect every path still referenced by a kept snapshot
        referenced: set[str] = set()
        whole_gens: set[str] = set()
        for v in kept:
            for rel in self.load_manifest(table, v).values():
                referenced.add(rel)
                if "/" not in rel:  # _ALL entry references the whole gen
                    whole_gens.add(rel)

        # 3. reclaim unreferenced partition subdirs / generation dirs.
        #    Generations NEWER than the live version are left alone: they may
        #    be a concurrent writer mid-publish, and crash leftovers there
        #    are reclaimed on a later vacuum once live has passed them.
        live_v = live or 0
        for name in self._fs.listdir(tdir):
            if not (name.startswith("v=") and name[2:].isdigit()):
                continue
            if int(name[2:]) > live_v or name in whole_gens:
                continue
            gdir = os.path.join(tdir, name)
            for sub in self._fs.listdir(gdir):
                subpath = os.path.join(gdir, sub)
                if self._fs.isdir(subpath) and f"{name}/{sub}" not in referenced:
                    self._fs.rmtree(subpath)
            remaining = self._fs.listdir(gdir)
            if not any(
                f"{name}/{sub}" in referenced for sub in remaining
                if self._fs.isdir(os.path.join(gdir, sub))
            ):
                # nothing referenced inside → drop the generation shell
                # (only loose _SUCCESS/marker files remain)
                if not remaining or all(
                    not self._fs.isdir(os.path.join(gdir, s)) for s in remaining
                ):
                    self._fs.rmtree(gdir)
        return removable
