"""Index lifecycle: per-library ANN index catalog with versioned rebuild,
atomic publish, and startup bootstrap.

Reference parity:
- IndexRegistry.get_or_create/swap/remove + factory defaults
  (indexing/registry.py:14-56: LSH L=8 H=16; IVF k=64 nprobe=4)
- config change → full rebuild → atomic swap (services/library.py:58-93)
- startup bootstrap rebuilds every missing index (main.py:61-76)

Spark design: an index VERSION is a directory of parquet tables
(``lsh_buckets`` or ``ivf_centroids`` + ``ivf_assignments``) plus a params
JSON; the live version is named by a pointer file flipped atomically after
the tables are fully written (write-new → flip → old readers finish on the
old snapshot). Flat needs no materialized state. Models are reconstructed
deterministically: SignLSH from (dim, L, H, seed), IVF from the stored
centroid matrix — once per version per lifecycle object (see
:meth:`IndexLifecycle._loaded`); the pointer itself is re-read on every call.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from vector_db_api_spark.api.errors import NotFoundError, ValidationError
from vector_db_api_spark.sources import fsio
from vector_db_api_spark.operators.ivf import FRAME_DDL, IVFIndex, posting_ddl
from vector_db_api_spark.operators.knn import hydrate_hits, knn
from vector_db_api_spark.operators.lsh import SignLSH, bucket_ddl, build_bucket_table
from vector_db_api_spark.session import local_frame

# factory defaults — reference indexing/registry.py:47-54.
# max_kmeans_iters: the reference DTO declares it (api/dto.py:41, default 2)
# but its engine ignores the field and always runs IVF_KMEAN_ITERS=20
# (indexing/ivf.py:10,160); we default to the value actually executed and,
# unlike the reference, honor an override at rebuild time.
DEFAULTS = {
    "flat": {},
    "lsh": {"num_tables": 8, "hyperplanes_per_table": 16, "seed": 42},
    "ivf": {"num_centroids": 64, "nprobe": 4, "max_kmeans_iters": 20, "seed": 42},
}
INDEX_TYPES = tuple(DEFAULTS)

# The libraries table stores a config as one flat struct: (field, the
# index type it belongs to, the param it holds). 0 stores "unset".
_STORED_PARAMS = (
    ("lsh_num_tables", "lsh", "num_tables"),
    ("lsh_hyperplanes_per_table", "lsh", "hyperplanes_per_table"),
    ("ivf_num_centroids", "ivf", "num_centroids"),
    ("ivf_nprobe", "ivf", "nprobe"),
    ("ivf_max_kmeans_iters", "ivf", "max_kmeans_iters"),
)
DEFAULT_LAYOUT = "idonly"


@dataclass
class IndexConfig:
    type: str = "flat"  # reference default — models/indexing.py:8
    params: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.type not in INDEX_TYPES:
            raise ValidationError(f"unknown index type: {self.type!r}")
        merged = dict(DEFAULTS[self.type])
        merged.update(self.params)
        self.params = merged

    def to_column(self) -> Column:
        """The ``index_config`` struct the libraries table stores. The
        layout is persisted so a parameterless rebuild (the maintenance
        compaction path included) keeps in-place serving."""
        p = self.params
        fields = [F.lit("type"), F.lit(self.type)]
        for name, _, key in _STORED_PARAMS:
            fields += [F.lit(name), F.lit(p.get(key, 0)).cast("int")]
        fields += [F.lit("layout"), F.lit(p.get("layout") or DEFAULT_LAYOUT)]
        return F.named_struct(*fields)

    @classmethod
    def from_row(cls, row) -> IndexConfig:
        """The config a stored ``index_config`` struct (or None) names:
        the stored type's nonzero params over DEFAULTS, plus a
        non-default layout."""
        if row is None:
            return cls()
        ctype = row["type"] or "flat"
        params = {key: row[name] for name, t, key in _STORED_PARAMS
                  if t == ctype and row[name]}
        layout = row["layout"] or DEFAULT_LAYOUT
        if ctype != "flat" and layout != DEFAULT_LAYOUT:
            params["layout"] = layout
        return cls(ctype, params)

    @staticmethod
    def reply(stored: dict | None) -> dict:
        """The reference's nested ``IndexConfigOut`` (api/dto.py:36-49) of
        a stored ``index_config`` struct, as a dict: ``{type, lsh: {…} |
        null, ivf: {…} | null}``, the section of the stored type carrying
        its stored params as they are."""
        stored = stored or {}
        ctype = stored.get("type", "flat")
        out = {"type": ctype}
        for section in ("lsh", "ivf"):
            out[section] = {
                key: stored.get(name)
                for name, t, key in _STORED_PARAMS if t == section
            } if ctype == section else None
        return out


class IndexLifecycle:
    """Catalog + build/publish/load for per-library index versions."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        # pointer IO is scheme-dispatched (local os / Hadoop FileSystem),
        # same as the EntityStore catalog — hdfs:// and s3a:// roots work
        self._fs = fsio.fs_for(root, spark)
        self._fs.makedirs(root)
        # library_id → ((version, built_at), IVF or LSH model)
        self._loaded_cache: dict[str, tuple] = {}
        # library_id → ((version, built_at), {(cell, posting file name): ids})
        # of the IVF versions searched on the driver (probed_ids)
        self._postings: dict[str, tuple] = {}

    # -- catalog -------------------------------------------------------------

    def _lib_dir(self, library_id: str) -> str:
        return os.path.join(self.root, str(library_id))

    def _pointer(self, library_id: str) -> str:
        return os.path.join(self._lib_dir(library_id), "_CURRENT")

    def current(self, library_id: str) -> dict | None:
        """The live index descriptor {version, type, params, dim} or None."""
        return fsio.read_json(self._fs, self._pointer(library_id))

    def _flip(self, library_id: str, desc: dict) -> None:
        d = self._lib_dir(library_id)
        self._fs.makedirs(d)
        fsio.write_json_atomic(self._fs, self._pointer(library_id), desc)

    # -- per-version state ----------------------------------------------------

    def _version_dir(self, library_id: str, desc: dict) -> str:
        return os.path.join(self._lib_dir(library_id), f"v={desc['version']}")

    def _loaded(self, library_id: str, desc: dict) -> IVFIndex | SignLSH:
        """The model of the version ``desc`` names. Deltas never touch a
        version's centroids, so they are read once and kept, one
        entry per library, keyed by ``(version, built_at)``: ``built_at``
        tells apart the ``v=1`` of a library that was dropped and rebuilt,
        here or by another engine sharing the root. The caller still reads
        ``desc`` from the pointer on every call, so a sibling's rebuild is
        seen on the next request."""
        key = (desc["version"], desc.get("built_at"))
        hit = self._loaded_cache.get(library_id)
        if hit is not None and hit[0] == key:
            return hit[1]
        p = desc["params"]
        if desc["type"] == "lsh":
            model = SignLSH(
                dim=desc["dim"],
                num_tables=p["num_tables"],
                hyperplanes_per_table=p["hyperplanes_per_table"],
                seed=p["seed"],
            )
        else:
            model = IVFIndex.from_frame(
                self.spark.read.schema(FRAME_DDL).parquet(os.path.join(
                    self._version_dir(library_id, desc), "ivf_centroids"
                )),
                nprobe=p["nprobe"],
            )
        self._loaded_cache[library_id] = (key, model)
        return model

    def _probed_cells(
        self, vdir: str, ivf: IVFIndex, ddl: str, query_vec: list[float]
    ) -> DataFrame:
        """The posting rows of the cells ``query_vec`` probes, read from
        their ``centroid_id=c`` directories only — listing nprobe cells
        instead of every cell of the version (auto_train sizes ~2√n of
        them), with the declared schema ``ddl`` (inferring it would list
        them all). ``basePath`` keeps the partition column; a probed cell
        that has no directory (no row was ever assigned to it) is skipped."""
        adir = os.path.join(vdir, "ivf_assignments")
        cells = [
            path for c in ivf.probe_centroids(query_vec)
            if self._fs.isdir(path := os.path.join(adir, f"centroid_id={c}"))
        ]
        if not cells:
            return local_frame(self.spark, [], ddl)
        return self.spark.read.schema(ddl).option("basePath", adir).parquet(*cells)

    def _cell_files(self, adir: str, cell: int) -> list[str]:
        """Names of the posting files of one cell directory (none when it
        does not exist), skipping what Spark skips: ``_``/``.`` names."""
        cdir = os.path.join(adir, f"centroid_id={cell}")
        if not self._fs.isdir(cdir):
            return []
        return [f for f in self._fs.listdir(cdir) if not f.startswith(("_", "."))]

    def _posting_files(self, library_id: str, desc: dict) -> dict | None:
        """The posting-id cache of the version ``desc`` names, when one is
        held (see :meth:`probed_ids`)."""
        hit = self._postings.get(library_id)
        key = (desc["version"], desc.get("built_at"))
        return hit[1] if hit is not None and hit[0] == key else None

    def probed_ids(
        self, library_id: str, desc: dict, query_vec: list[float]
    ) -> frozenset:
        """The ids in the posting files of the cells ``query_vec`` probes on
        the IVF version ``desc`` — the candidates before the semi-join with
        the live chunks, stale postings included.

        The probed cell directories are listed on every call, as the Spark
        path lists them, so files another engine appended are seen. Each
        file's ids are read once and kept per ``(cell, file name)``: Spark
        never rewrites a part file it appended, and a rebuild writes a new
        version. Files not seen yet are read in one job; the first call on
        a version reads every cell's, so later probes of other cells find
        them held. :meth:`_append_postings` adds this engine's deltas as it
        writes them."""
        cells = self._loaded(library_id, desc).probe_centroids(query_vec)
        if not cells:
            return frozenset()
        adir = os.path.join(self._version_dir(library_id, desc), "ivf_assignments")
        files = self._posting_files(library_id, desc)
        if files is None:
            files = {}
            self._postings[library_id] = (
                (desc["version"], desc.get("built_at")), files)
            every = sorted(
                int(d.split("=", 1)[1]) for d in self._fs.listdir(adir)
                if d.startswith("centroid_id=")
            ) if self._fs.isdir(adir) else []
            files.update(self._read_postings(
                adir, [(c, f) for c in every for f in self._cell_files(adir, c)]))
        listed = [(c, f) for c in cells for f in self._cell_files(adir, c)]
        unseen = [cf for cf in listed if cf not in files]
        if unseen:
            files.update(self._read_postings(adir, unseen))
        return frozenset().union(*(files[cf] for cf in listed))

    def drop_posting_ids(self, library_id: str) -> None:
        """Forget the posting ids :meth:`probed_ids` keeps for a library
        whose search went to Spark: they are read again, in one job, when
        a snapshot of it is held once more."""
        self._postings.pop(library_id, None)

    def _read_postings(self, adir: str, names: list) -> dict:
        """{(cell, file name): ids} of the given posting files, in one job.
        The files are read in groups of at most 32, each one scan Spark
        lists on the driver (more paths than
        ``parallelPartitionDiscovery.threshold`` would list in a job of its
        own), and the scans are unioned."""
        if not names:
            return {}
        paths = [os.path.join(adir, f"centroid_id={c}", f) for c, f in names]
        scans = [
            self.spark.read.schema("id string, centroid_id int")
            .option("basePath", adir).parquet(*paths[i:i + 32])
            .select("id", "centroid_id", F.col("_metadata.file_name").alias("f"))
            for i in range(0, len(paths), 32)
        ]
        out: dict[tuple, set] = {cf: set() for cf in names}
        for r in reduce(DataFrame.unionByName, scans).collect():
            out[(r["centroid_id"], r["f"])].add(r["id"])
        return {cf: frozenset(ids) for cf, ids in out.items()}

    # -- build / publish ------------------------------------------------------

    def rebuild(
        self,
        library_id: str,
        chunks: DataFrame,
        config: IndexConfig,
        dim: int,
        id_col: str = "id",
        vec_col: str = "embedding",
        layout: str | None = None,
    ) -> dict:
        """Build the next index version from the library's embedded chunks,
        write its tables, then atomically publish (services/library.py:58-93
        semantics: readers keep the old index until the flip).

        ``layout`` (r9 verdict #3) — how the version's tables are laid out:

        - ``"idonly"`` (default): bucket/posting rows carry only ids;
          every probe re-ranks against the LIVE chunks table, so stale
          rows are harmless (deletes drop at the join, updates win at
          re-rank). Always mutation-safe.
        - ``"selfcontained"``: vectors are materialized INTO the bucket/
          posting rows (LSH self-contained buckets / IVF-Flat postings —
          the layouts that win the bench by re-ranking in place with no
          corpus join). Correct ONLY while the snapshot stays untouched,
          which a version directory is by construction — so the catalog
          ENFORCES the operators' documented mutability contract
          (lsh.py build_bucket_table / ivf.py assign): the first mutation
          against the live version (:meth:`apply_delta` or :meth:`remove`)
          atomically re-flips the pointer with serving DOWNGRADED to live
          hydration (``layout_serving: idonly``); the next rebuild
          restores in-place serving. May also arrive via
          ``config.params["layout"]`` (the Engine route); not meaningful
          for ``flat`` (no materialized tables) — rejected.
        """
        layout = layout or config.params.get("layout") or DEFAULT_LAYOUT
        if layout not in ("idonly", "selfcontained"):
            raise ValidationError(f"unknown index layout: {layout!r}")
        if layout == "selfcontained" and config.type == "flat":
            raise ValidationError(
                "layout='selfcontained' needs materialized index tables; "
                "type 'flat' has none"
            )
        include_vectors = layout == "selfcontained"
        cur = self.current(library_id)
        version = 1 if cur is None else cur["version"] + 1
        vdir = os.path.join(self._lib_dir(library_id), f"v={version}")
        embedded = chunks.filter(F.col(vec_col).isNotNull())

        if config.type == "lsh":
            p = config.params
            model = SignLSH(
                dim=dim,
                num_tables=p["num_tables"],
                hyperplanes_per_table=p["hyperplanes_per_table"],
                seed=p["seed"],
            )
            build_bucket_table(
                model, embedded, id_col=id_col, vec_col=vec_col,
                include_vectors=include_vectors,
            ).write.mode("errorifexists").parquet(
                os.path.join(vdir, "lsh_buckets")
            )
        elif config.type == "ivf":
            p = config.params
            ivf = IVFIndex.train(
                embedded,
                num_centroids=p["num_centroids"],
                nprobe=p["nprobe"],
                vec_col=vec_col,
                seed=p["seed"],
                max_iter=p.get("max_kmeans_iters", 20),
            )
            ivf.to_frame(self.spark).coalesce(1).write.mode(
                "errorifexists"
            ).parquet(os.path.join(vdir, "ivf_centroids"))
            # partitioned by centroid_id → the nprobe probe partition-prunes
            ivf.assign(
                embedded, id_col=id_col, vec_col=vec_col,
                include_vectors=include_vectors,
            ).write.mode("errorifexists").partitionBy("centroid_id").parquet(
                os.path.join(vdir, "ivf_assignments")
            )
        elif config.type != "flat":  # pragma: no cover — IndexConfig validates
            raise ValidationError(f"unknown index type: {config.type!r}")

        desc = {
            "version": version,
            "type": config.type,
            "params": config.params,
            "dim": dim,
            "built_at": time.time(),
            # layout = what the TABLES hold (fixed for this version);
            # layout_serving = how search reads them (downgraded to
            # 'idonly' by the first mutation when selfcontained)
            "layout": layout if config.type != "flat" else DEFAULT_LAYOUT,
            "layout_serving": layout if config.type != "flat" else DEFAULT_LAYOUT,
        }
        self._flip(library_id, desc)
        if config.type == "ivf":
            # what _loaded would read back: ivf_centroids stores these
            # doubles exactly, and from_frame normalizes them again
            self._loaded_cache[library_id] = (
                (version, desc["built_at"]), IVFIndex(ivf.centroids, nprobe=p["nprobe"])
            )
        return desc

    def _downgrade_serving(self, library_id: str, desc: dict) -> None:
        """Enforce the in-place layouts' mutability contract: a mutation
        against a selfcontained-serving version atomically re-flips the
        pointer with serving downgraded to live hydration. The TABLES are
        untouched (the extra vector column is simply dropped at read), so
        the downgrade is one pointer write — readers observe either the
        old (in-place) or new (hydrating) mode, both of which return
        correct results for data written BEFORE the mutation; results for
        the mutation itself are correct only under hydration, which is why
        the flip happens before the delta lands."""
        if desc.get("layout_serving", DEFAULT_LAYOUT) != "selfcontained":
            return
        import logging

        logging.getLogger(__name__).warning(
            "library %s: mutation against a selfcontained index snapshot "
            "(v=%s) — downgrading serving to live hydration until the next "
            "rebuild", library_id, desc["version"],
        )
        self._flip(library_id, {**desc, "layout_serving": "idonly",
                                "downgraded_at": time.time()})
        desc["layout_serving"] = "idonly"

    def apply_delta(
        self,
        library_id: str,
        batch: DataFrame,
        id_col: str = "id",
        vec_col: str = "embedding",
        rows: list | None = None,
    ) -> int:
        """Append a written chunk batch's index delta to the LIVE index
        version — the reference's per-upsert ``index.add``/``update``
        (services/chunk.py:40-70) without a rebuild.

        Append-only is sufficient for correctness: search probes candidate
        ids from the bucket/posting tables but ALWAYS re-ranks against the
        live chunks table (lsh.py rerank join / ivf.py rerank join), so a
        stale row for an updated chunk is at worst a harmless extra
        candidate (fresh embedding wins at re-rank; deleted ids drop at the
        hydration join). New/updated embeddings DO need their new
        bucket/posting rows appended or recall decays — that's this delta.
        Bucket bloat from superseded rows is reclaimed at the next rebuild
        (``vacuum`` + config swap). Returns the number of posting rows
        appended, counted as the write runs: one per embedded row for IVF,
        one per table for LSH — the kernels emit none for a NULL or
        zero-norm embedding.

        ``rows``: the batch's rows, when the caller holds them on the
        driver. An IVF delta is then assigned there (``assign_rows``, the
        executors' kernel) and appended as a local relation: one job, no
        Python worker.
        """
        desc = self.current(library_id)
        if desc is None or desc["type"] == "flat":
            return 0  # flat scans the live table — always fresh
        if rows is None:
            # one aggregate answers both questions below
            stats = batch.agg(
                F.count(F.lit(1)).alias("rows"), F.count(vec_col).alias("embedded")
            ).first()
        else:
            stats = {"rows": len(rows),
                     "embedded": sum(r[vec_col] is not None for r in rows)}
        if not stats["rows"]:
            return 0
        # mutability contract: in-place serving ends at the first mutation
        # (flip BEFORE the delta lands, so no reader can in-place re-rank a
        # superseded row). This must gate on the RAW batch, not the embedded
        # subset: an upsert that replaces an embedded chunk with
        # embedding=NULL contributes no delta row, yet still supersedes a
        # vector the selfcontained tables may carry — only live hydration
        # can drop it.
        self._downgrade_serving(library_id, desc)
        if not stats["embedded"]:
            return 0
        include_vectors = desc.get("layout", DEFAULT_LAYOUT) == "selfcontained"
        vdir = self._version_dir(library_id, desc)
        model = self._loaded(library_id, desc)
        if desc["type"] == "ivf" and rows is not None:
            ddl = posting_ddl(batch, id_col, vec_col, include_vectors)
            return self._append_postings(
                vdir, model, rows, ddl, id_col, vec_col, include_vectors,
                files=self._posting_files(library_id, desc),
            )
        embedded = batch.filter(F.col(vec_col).isNotNull())
        appended = Observation()
        if desc["type"] == "lsh":
            delta = build_bucket_table(
                model, embedded, id_col=id_col, vec_col=vec_col,
                include_vectors=include_vectors,
            )
            out = delta.observe(appended, F.count(F.lit(1)).alias("rows")).write
            out.mode("append").parquet(os.path.join(vdir, "lsh_buckets"))
        else:
            # ivf: assign against the stored centroids, append partition-locally
            delta = model.assign(
                embedded, id_col=id_col, vec_col=vec_col,
                include_vectors=include_vectors,
            )
            out = delta.observe(appended, F.count(F.lit(1)).alias("rows")).write
            out.mode("append").partitionBy("centroid_id").parquet(
                os.path.join(vdir, "ivf_assignments")
            )
        return appended.get["rows"]

    def _append_postings(
        self,
        vdir: str,
        model: IVFIndex,
        rows: list,
        ddl: str,
        id_col: str,
        vec_col: str,
        include_vectors: bool,
        files: dict | None = None,
    ) -> int:
        """The IVF delta of driver-held ``rows``: cells assigned with the
        executors' kernel, posting rows appended as one local relation (one
        file per cell, as the one-partition executor batch wrote them).

        ``files``: the version's posting-id cache (:meth:`probed_ids`), to
        which each touched cell's new file is added with the ids written to
        it. The file is the one name its cell's listing gained across the
        append; a cell that gained more (a sibling appended too) is left for
        the next search to read."""
        embedded = [r for r in rows if r[vec_col] is not None]
        keep, cells = model.assign_rows([r[vec_col] for r in embedded])
        kept = (r for r, k in zip(embedded, keep) if k)
        postings = [
            (r[id_col], int(c), *([r[vec_col]] if include_vectors else []))
            for r, c in zip(kept, cells)
        ]
        if not postings:
            return 0
        adir = os.path.join(vdir, "ivf_assignments")
        touched = sorted({p[1] for p in postings})
        before = {c: set(self._cell_files(adir, c)) for c in touched} if (
            files is not None) else {}
        local_frame(self.spark, postings, ddl).coalesce(1).write.mode(
            "append"
        ).partitionBy("centroid_id").parquet(adir)
        for c, known in before.items():
            new = set(self._cell_files(adir, c)) - known
            if len(new) == 1:
                files[(c, new.pop())] = frozenset(p[0] for p in postings if p[1] == c)
        return len(postings)

    def remove(self, library_id: str, ids: list | DataFrame) -> int:
        """Record deleted chunk ids against the LIVE index version — the
        reference's per-delete ``index.remove`` (services/chunk.py:119-139
        calls it synchronously) as an O(batch) tombstone append, never a
        bucket/posting rewrite.

        Search OUTPUT needs no tombstone filtering: every probe re-ranks by
        semi-joining candidates against the live chunks table
        (lsh.py ``corpus.join(broadcast(cand), left_semi)``, ivf.py same),
        so a deleted id can never surface — the tombstone's job is
        BOOKKEEPING: it measures dead weight in the bucket/posting tables
        (stale rows cost probe IO and candidate-set accuracy, not
        correctness) so :meth:`needs_compaction` can trigger a rebuild once
        deletes pile up. Returns the number of tombstone rows appended."""
        desc = self.current(library_id)
        if desc is None or desc["type"] == "flat":
            return 0  # flat scans the live table — nothing stale to track
        vdir = os.path.join(
            self._lib_dir(library_id), f"v={desc['version']}", "tombstones"
        )
        if isinstance(ids, DataFrame):
            # materialize once: the id frame usually hangs off a delete's
            # anti-join lineage over the old chunks snapshot — without the
            # checkpoint, the write computes it and the return-value count
            # would re-read that whole snapshot a second time (r7 advice)
            tomb = ids.select(
                F.col(ids.columns[0]).cast("string").alias("id")
            ).localCheckpoint(eager=True)
            if tomb.isEmpty():
                return 0  # no-op delete: nothing mutated, keep serving mode
            # a delete is a mutation too: in-place re-rank never consults
            # the live table, so only hydrating mode drops the deleted rows
            # — but only a NON-EMPTY delete is a mutation (r10 advice)
            self._downgrade_serving(library_id, desc)
            tomb.write.mode("append").parquet(vdir)
            return tomb.count()
        if not ids:
            return 0  # no-op delete: keep in-place serving
        self._downgrade_serving(library_id, desc)
        tomb = local_frame(self.spark, [(str(i),) for i in ids], "id string")
        tomb.write.mode("append").parquet(vdir)
        return len(ids)

    def tombstone_count(self, library_id: str) -> int:
        """Dead-id rows recorded against the live version (0 when none)."""
        desc = self.current(library_id)
        if desc is None:
            return 0
        vdir = os.path.join(
            self._lib_dir(library_id), f"v={desc['version']}", "tombstones"
        )
        if not self._fs.isdir(vdir):
            return 0
        return self.spark.read.parquet(vdir).count()

    def needs_compaction(self, library_id: str, max_dead_fraction: float = 0.2) -> bool:
        """True when tombstoned ids exceed ``max_dead_fraction`` of the live
        index's posting rows — the rebuild-now signal Engine.maintenance
        acts on (a rebuild drops dead postings AND superseded duplicate
        rows from apply_delta, and clears the tombstones with the old
        version)."""
        desc = self.current(library_id)
        if desc is None or desc["type"] == "flat":
            return False
        dead = self.tombstone_count(library_id)
        if not dead:
            return False
        vdir = os.path.join(self._lib_dir(library_id), f"v={desc['version']}")
        table = "lsh_buckets" if desc["type"] == "lsh" else "ivf_assignments"
        # distinct ids, same unit as the tombstones (LSH holds one posting
        # per (table_id, id); apply_delta appends supersede-duplicates)
        total = (
            self.spark.read.parquet(os.path.join(vdir, table))
            .select("id").distinct().count()
        )
        return dead > max_dead_fraction * max(total, 1)

    def drop(self, library_id: str) -> bool:
        """Remove the library's entire index catalog entry — every version
        directory and the pointer (the reference's ``registry.remove``,
        indexing/registry.py:41-44, called on library delete). Without
        this, a deleted library's index versions leak forever. Returns
        whether anything existed."""
        self._loaded_cache.pop(library_id, None)
        self._postings.pop(library_id, None)
        d = self._lib_dir(library_id)
        if not self._fs.isdir(d):
            return False
        self._fs.rmtree(d)
        return True

    def bootstrap(
        self,
        libraries: list[tuple[str, IndexConfig, int]],
        chunks_by_library,
    ) -> list[str]:
        """Build every missing index at startup (main.py:61-76 parity).

        ``libraries`` is [(library_id, config, dim)];
        ``chunks_by_library(library_id)`` returns that library's chunk
        DataFrame (partition-pruned scan when chunks is partitioned by
        library_id). Returns the library ids that were (re)built.
        """
        built = []
        for lib_id, config, dim in libraries:
            if self.current(lib_id) is None:
                self.rebuild(lib_id, chunks_by_library(lib_id), config, dim)
                built.append(lib_id)
        return built

    def vacuum(self, library_id: str, keep: int = 2) -> list[int]:
        """Drop index snapshot dirs older than the newest ``keep`` (never
        the live one) — readers of an old version finish before their
        pointer resolution goes stale, so keep ≥ 2 during live traffic."""
        d = self._lib_dir(library_id)
        if not self._fs.isdir(d):
            return []
        versions = sorted(
            int(x.split("=", 1)[1])
            for x in self._fs.listdir(d)
            if x.startswith("v=") and x.split("=", 1)[1].isdigit()
        )
        cur = self.current(library_id)
        live = cur["version"] if cur else None
        removable = [v for v in versions[:-keep] if v != live] if keep else [
            v for v in versions if v != live
        ]
        for v in removable:
            self._fs.rmtree(os.path.join(d, f"v={v}"))
        return removable

    # -- search dispatch ------------------------------------------------------

    def search(
        self,
        library_id: str,
        chunks: DataFrame,
        query_vec: list[float],
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        extra_cols: tuple = (),
    ) -> DataFrame:
        """Dispatch on the live index type; flat (or no index yet) scans
        exactly — the reference's untrained-IVF fallback (ivf.py:96-99)
        generalized. Returns ``(id_col, *extra_cols, score)``: for flat and
        IVF the extra columns ride the re-rank from ``chunks``; LSH hits,
        and those of an IVF version served in place, join back to
        ``chunks`` for them."""
        desc = self.current(library_id)
        if desc is None or desc["type"] == "flat":
            return knn(chunks, query_vec, k, metric=metric, id_col=id_col,
                       vec_col=vec_col, extra_cols=extra_cols)
        if desc["type"] not in ("lsh", "ivf"):
            raise NotFoundError(f"no usable index for library {library_id!r}")
        vdir = self._version_dir(library_id, desc)
        model = self._loaded(library_id, desc)
        # serving mode: the operators auto-detect the in-place layouts by
        # the vector column's presence, so an idonly-SERVING version whose
        # tables were built selfcontained (downgraded by a mutation) just
        # leaves the column out of the read — probes fall back to live
        # hydration, where deletes drop at the join and updated embeddings
        # win at re-rank
        in_place = desc.get("layout_serving", DEFAULT_LAYOUT) == "selfcontained"
        if desc["type"] == "lsh":
            buckets = self.spark.read.schema(
                bucket_ddl(chunks, id_col, vec_col, include_vectors=in_place)
            ).parquet(os.path.join(vdir, "lsh_buckets"))
            hits = model.search(chunks, buckets, query_vec, k, metric=metric,
                                id_col=id_col, vec_col=vec_col)
            return hydrate_hits(hits, chunks, k, id_col, extra_cols)
        ddl = posting_ddl(chunks, id_col, vec_col, include_vectors=in_place)
        cells = self._probed_cells(vdir, model, ddl, query_vec)
        return model.search(chunks, cells, query_vec, k, metric=metric,
                            id_col=id_col, vec_col=vec_col,
                            extra_cols=extra_cols)

    # -- routed self-join with a catalog-persisted decision -------------------

    def corpus_fingerprint(
        self, chunks: DataFrame, id_col: str = "id",
        vec_col: str = "embedding",
    ) -> dict:
        """Order-independent fingerprint of the embedded corpus: row count
        + BIT_XOR of xxhash64(id, embedding) (xor, not sum — the session
        runs ANSI mode where a long SUM of hashes overflows). One
        partial-agg scan — far cheaper than the routing probe's
        ranked-probe + sampled-recall passes it lets repeat callers skip.
        Any upsert that changes an (id, embedding) pair, adds one, or
        removes one moves the xor (paired with the count for the
        duplicate-row edge); a no-op rewrite of identical rows keeps it
        (the decision stays valid by construction)."""
        row = (
            chunks.filter(F.col(vec_col).isNotNull())
            .select(
                F.xxhash64(
                    F.col(id_col).cast("string"),
                    F.col(vec_col).cast("array<double>"),
                ).alias("__h")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(__h)").alias("h"),
            )
            .collect()[0]
        )
        return {"n": int(row["n"]), "h": int(row["h"] or 0)}

    def self_join_auto(
        self,
        library_id: str,
        chunks: DataFrame,
        k: int,
        metric: str = "cosine",
        id_col: str = "id",
        vec_col: str = "embedding",
        decision_out: dict | None = None,
        **route_kw,
    ) -> DataFrame:
        """kNN self-join routed like ``IVFIndex.self_join_auto`` but with
        the decision record PERSISTED through the catalog (r12 verdict #4:
        the router re-measured the bar on every call — ~0.7-1.6s at sf0.1,
        two O(n) passes at scale — although the lifecycle already versions
        everything the decision depends on).

        Cache key = (live index version, corpus fingerprint, k, metric,
        route knobs): the record lives under the version directory
        (``v=N/routing/``), so a rebuild starts a fresh namespace, and the
        fingerprint covers mutations — an upsert/delete lands in the live
        chunks table, moves the fingerprint, and the next call re-measures
        (stale records are dead weight vacuumed with their version). On a
        hit the probe is skipped entirely and the recorded plan dispatches
        directly; ``decision_out["routing_source"]`` says which happened
        (``"cached"`` vs ``"measured"``)."""
        desc = self.current(library_id)
        if desc is None or desc["type"] != "ivf":
            raise NotFoundError(
                f"self_join_auto needs a live IVF index for library "
                f"{library_id!r} (found: {desc and desc['type']!r})"
            )
        vdir = self._version_dir(library_id, desc)
        ivf = self._loaded(library_id, desc)
        fp = self.corpus_fingerprint(chunks, id_col=id_col, vec_col=vec_col)
        knobs = {k_: route_kw[k_] for k_ in sorted(route_kw)}
        cache_path = os.path.join(
            vdir, "routing",
            f"selfjoin_k{k}_{metric}_n{fp['n']}_"
            f"h{fp['h'] & 0xFFFFFFFFFFFFFFFF:016x}.json",
        )
        cached = fsio.read_json(self._fs, cache_path)
        if cached is not None and cached.get("route_kw") == {
            str(a): b for a, b in knobs.items()
        }:
            decision = dict(cached["decision"])
            decision["routing_source"] = "cached"
            if decision_out is not None:
                decision_out.update(decision)
            return ivf.dispatch_self_join(
                chunks, decision, k, metric=metric, id_col=id_col,
                vec_col=vec_col)
        decision = ivf.route_self_join(
            chunks, k, metric=metric, id_col=id_col, vec_col=vec_col,
            **route_kw)
        self._fs.makedirs(os.path.join(vdir, "routing"))
        fsio.write_json_atomic(
            self._fs, cache_path,
            {"decision": decision, "fingerprint": fp,
             "route_kw": {str(a): b for a, b in knobs.items()},
             "measured_at": time.time()},
        )
        decision = dict(decision)
        decision["routing_source"] = "measured"
        if decision_out is not None:
            decision_out.update(decision)
        return ivf.dispatch_self_join(
            chunks, decision, k, metric=metric, id_col=id_col,
            vec_col=vec_col)
