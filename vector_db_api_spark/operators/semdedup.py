"""SemDeDup: semantic deduplication by cluster-then-prune (Abbas et al.,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication", arXiv:2303.09540).

The reference engine (Kshitij-Bakliwal/vector-db-api) has the two halves of
this pipeline as separate primitives — k-means clustering
(``src/vector_db_api/indexing/ivf.py``, the IVF coarse quantizer) and exact
cosine scoring (``src/vector_db_api/indexing/utils.py:10-15``) — but no
composed corpus-pruning operator. This module composes them the way an LLM
training-data pipeline does:

1. **Assign** every embedding to its nearest centroid (max cosine == max dot
   on unit vectors). The cluster is the dedup *block*: all pair work is
   equi-keyed on ``cell``, so total pair cost is Σ|cell|² instead of N² —
   choose ``num_centroids ≈ N / target_cell_size`` so cells stay Arrow-batch
   sized at 100 TB (the paper uses 50k clusters for LAION-scale).
2. **Prune** inside each cluster: a vector is dropped when a *higher-keep-
   priority* member of the same cluster sits within the ε-ball
   (``cosine ≥ threshold``). Keep priority follows the paper: prefer the
   example FARTHEST from its centroid (maximizes retained diversity), with
   the id as a deterministic tie-break.

Two execution paths, same semantics (the repo-wide twin convention):

- :func:`semdedup_dropped` — pure Column expressions (sequential-fold dots),
  bit-reproducible against the DuckDB oracle, whole-stage-codegen friendly.
- :func:`semdedup_dropped_numpy` — one BLAS gram matrix per cluster inside
  ``applyInPandas``; identical drop SET, ~10× less CPU; the production path.

Both shuffle exactly once on ``cell`` (plus the centroid-assignment scan).
Giant clusters are the skew risk; the paper's answer (and ours) is a larger
``num_centroids``, keeping the expensive step linear in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_db_api_spark.functions import vector as V


def assign_diversity(
    vectors: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, __u, cell, csim): expression-only nearest-centroid assignment.

    ``cell`` is the argmax (first-max, numpy semantics) of the sequential-fold
    dots with each centroid row; ``csim`` is that max dot divided by the
    vector norm — i.e. the cosine to the winning centroid, the paper's keep-
    priority signal. Null / zero-norm vectors drop (they have no semantic
    location; the exact-kNN path has the same guard, knn.py).

    The whole assignment is Column arithmetic over a centroid matrix folded
    into the plan as literals — no Python in the hot path, and every double
    is reproducible by any engine that folds left-to-right (the DuckDB
    oracle replays it; cf. suite._sql_semdedup).
    """
    d = V.as_double_array(vec_col)
    e = (
        vectors.filter(F.col(vec_col).isNotNull())
        .withColumn("__d", d)
        .withColumn("__n", V.norm("__d"))
        .filter(F.col("__n") != 0.0)
        # one server-side expression for the K dots, materialized ONCE in
        # its own projection (r16, guide §7.3: the per-centroid Column
        # loop paid K·d py4j calls at construction, and the inline array
        # was rebuilt in all three consumers below); same fold, same
        # literal bits, same argmax/csim values
        .withColumn("__dots", V.dots_const_matrix("__d", centroids))
    )
    dots = F.col("__dots")
    return e.select(
        F.col(id_col),
        F.transform("__d", lambda x: x / F.col("__n")).alias("__u"),
        (F.array_position(dots, F.array_max(dots)) - 1).cast("int").alias("cell"),
        (F.array_max(dots) / F.col("__n")).alias("csim"),
    )


def _priority_cond(a: str, b: str, id_col: str) -> F.Column:
    """True when row ``b`` outranks row ``a`` for keeping: farther from the
    centroid first (csim ASC), id ASC as the deterministic tie-break."""
    return (F.col(f"{b}.csim") < F.col(f"{a}.csim")) | (
        (F.col(f"{b}.csim") == F.col(f"{a}.csim"))
        & (F.col(f"{b}.{id_col}") < F.col(f"{a}.{id_col}"))
    )


def semdedup_dropped(
    vectors: DataFrame,
    centroids,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rows PRUNED by SemDeDup: (id, cell, max_sim).

    ``max_sim`` is the highest cosine to any higher-priority member of the
    same cluster (≥ threshold by construction — it is the evidence for the
    drop). The kept corpus is ``vectors`` anti-joined with this frame.

    Plan: centroid assignment is scan-fused; the intra-cluster pair scoring
    is ONE equi-join shuffle on ``cell``; the group-by reuses the same
    partitioning (no second exchange). Unit vectors are precomputed before
    the join so each pair costs a single dot fold.
    """
    s = assign_diversity(vectors, centroids, id_col=id_col, vec_col=vec_col)
    a, b = s.alias("a"), s.alias("b")
    pair_cos = V.dot("a.__u", "b.__u")
    return (
        a.join(b, F.col("a.cell") == F.col("b.cell"))
        .filter(_priority_cond("a", "b", id_col))
        .filter(pair_cos >= threshold)
        .groupBy(F.col(f"a.{id_col}").alias(id_col), F.col("a.cell").alias("cell"))
        .agg(F.max(pair_cos).alias("max_sim"))
    )


def semdedup_kept(
    vectors: DataFrame,
    centroids,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The surviving corpus: input rows minus the pruned set (anti-join on
    id — null-embedding rows survive untouched, mirroring the reference's
    treatment of unembedded chunks as non-searchable but present)."""
    dropped = semdedup_dropped(
        vectors, centroids, threshold, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    return vectors.join(dropped, id_col, "left_anti")


def _blocked_drop_flags(
    unit: "np.ndarray", thr: float, block: int
) -> "np.ndarray":
    """Drop flags for priority-SORTED unit vectors WITHOUT materializing the
    n×n gram: row i drops iff any j < i has ``unit[i]·unit[j] >= thr``.
    The pair test is independent of other rows' drop status (a dropped
    higher-priority row still counts as evidence), so it tiles exactly:
    iterate (row-block × col-block) panels of at most ``block``² doubles,
    masking j >= i inside the diagonal panel. Peak memory is block² + n·d —
    the hot-cell gram blow-up capped at a constant, with a bit-identical
    drop set (tests pin blocked == full-gram == expression twin)."""
    import numpy as np

    n = len(unit)
    drop = np.zeros(n, dtype=bool)
    for rs in range(0, n, block):
        re_ = min(rs + block, n)
        rows = unit[rs:re_]
        hit = np.zeros(re_ - rs, dtype=bool)
        for cs in range(0, re_, block):
            ce = min(cs + block, re_)
            g = rows @ unit[cs:ce].T
            if ce > rs:  # panel touches/crosses the diagonal: mask j >= i
                mask = (np.arange(cs, ce)[None, :]
                        < np.arange(rs, re_)[:, None])
                hit |= ((g >= thr) & mask).any(axis=1)
            else:
                hit |= (g >= thr).any(axis=1)
        drop[rs:re_] = hit
    return drop


def semdedup_dropped_numpy(
    vectors: DataFrame,
    centroids,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gram_block_rows: int = 8192,
    max_cell_size: int | None = None,
) -> DataFrame:
    """BLAS twin of :func:`semdedup_dropped`: per-cluster gram matrix.

    Drop-set parity caveat: cell assignment and the csim priority are
    computed on a different float path here (matmul on unit vectors) than
    in the expression twin (fold on raw vectors / norm). ε-membership and
    priority ORDER are robust at any realistic threshold, but an argmax or
    priority tie within a few ulps — measure-zero for continuous
    embeddings, conceivable for adversarially symmetric ones — could land
    a vector in a different cell between the twins. Per-pair cosines also
    differ in the last ulp (summation order), so this twin returns
    (id, cell) without the score — the same id-projection contract as
    ``embedding_neardup_pairs_numpy``. Cluster = pandas group; sizes are
    bounded by the centroid count, the operator's explicit scale knob.

    Hot-cell protection (the DEPLOYMENT.md remedy, two layers):

    - ``gram_block_rows``: the pair test runs over block² gram PANELS, so
      a duplicate-storm cell costs bounded memory with an IDENTICAL drop
      set (the panel tiling is exact — see :func:`_blocked_drop_flags`).
    - ``max_cell_size``: cells above this are locally re-clustered
      (seeded spherical k-means on the cell's own unit vectors into
      ceil(n/cap) subcells) and pruned subcell-locally — the paper's
      "raise num_centroids" applied only where it's needed. Like the
      top-level cell blocking itself, subcell splits trade cross-block
      pairs for cost, but a final cross-subcell pass over the (few)
      survivors means a duplicate storm collapses to ONE keeper even when
      k-means splits it across subcells (brute-force-matching drop set on
      storm geometries; pinned in tests).

      EXACTNESS CAVEAT (setting the cap weakens the twin contract): with
      ``max_cell_size`` unset the drop set is identical to the unsplit
      operator's; with it set, the split can UNDER-drop — a row whose only
      ε-evidence was itself dropped inside another subcell escapes the
      cross-subcell survivor pass (requires i~j, j~k, i≁k with exactly
      that priority order, which is not a near-duplicate geometry). Use
      the cap as the bounded-memory scale valve, not when bit-exact twin
      parity is being asserted.
    """
    import numpy as np
    import pandas as pd

    from vector_db_api_spark.functions.ship import ship_model

    # the paper-scale centroid matrix (50k × 768 ≈ 300 MB) must ride a
    # broadcast, not the per-task closure — ship_model picks by size
    shipped = ship_model(vectors, np.asarray(centroids, dtype=np.float64))
    id_kind = vectors.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_kind}, cell int"
    thr = float(threshold)

    e = vectors.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)

    def assign_batches(batches):
        cent = shipped.get()
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            keep = norms > 0
            if not keep.any():
                continue
            unit = mat[keep] / norms[keep, None]
            dots = unit @ cent.T
            out = pdf.loc[keep, [id_col]].copy()
            out["cell"] = dots.argmax(axis=1).astype(np.int32)
            out["csim"] = dots.max(axis=1)
            out["__u"] = list(unit)
            yield out

    assigned = e.mapInPandas(
        assign_batches, schema=f"{id_col} {id_kind}, cell int, csim double, __u array<double>"
    )

    block = int(gram_block_rows)
    cap = max_cell_size

    def prune_sorted(unit: np.ndarray) -> np.ndarray:
        # row i dropped iff any earlier (higher-priority) row j has
        # unit[i]·unit[j] >= threshold; panel tiling keeps peak memory at
        # block² no matter how hot the cell is (exact — no approximation)
        return _blocked_drop_flags(unit, thr, block)

    def prune_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({id_col: [], "cell": []}).astype(
                {id_col: pdf[id_col].dtype, "cell": "int32"}
            )
        order = np.lexsort((pdf[id_col].to_numpy(), pdf["csim"].to_numpy()))
        unit = np.asarray(pdf["__u"].tolist(), dtype=np.float64)[order]
        ids = pdf[id_col].to_numpy()[order]
        cells = pdf["cell"].to_numpy()[order]
        if cap is not None and len(unit) > cap:
            # hot cell: local re-cluster into ceil(n/cap) subcells (seeded
            # off the cell id for determinism), prune subcell-locally
            from vector_db_api_spark.operators.ivf import _spherical_kmeans

            k_sub = -(-len(unit) // cap)
            sub_cent = _spherical_kmeans(
                unit, k_sub, seed=100_003 + int(cells[0]), max_iter=10
            )
            sub = (unit @ sub_cent.T).argmax(axis=1)
            drop = np.zeros(len(unit), dtype=bool)
            for s in np.unique(sub):
                members = np.flatnonzero(sub == s)  # priority order kept
                if len(members) > 1:
                    drop[members] = prune_sorted(unit[members])
            # cross-subcell pass over the SURVIVORS (≤ one small diverse
            # set per subcell): a storm that k-means split across subcells
            # still collapses to one keeper. Residual caveat vs the unsplit
            # operator: a row whose only ε-evidence was dropped in another
            # subcell escapes (needs i~j, j~k, i≁k with that exact priority
            # order — not a near-dup geometry); the bounded-memory trade.
            surv = np.flatnonzero(~drop)
            if len(surv) > 1:
                drop[surv[prune_sorted(unit[surv])]] = True
        else:
            drop = prune_sorted(unit)
        return pd.DataFrame({id_col: ids[drop], "cell": cells[drop]})

    return assigned.groupBy("cell").applyInPandas(prune_cell, schema=out_schema)
