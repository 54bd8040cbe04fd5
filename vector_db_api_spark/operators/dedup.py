"""Deduplication operators for large-scale training-data pipelines.

Five dedup families over a ``documents(doc_id, text, ...)`` table, each
returning a DataFrame and each built shuffle-consciously:

- exact          : hash-groupBy on a content fingerprint (one shuffle)
- ngram jaccard  : shingle → explode → self-join on shingle → pair-count /
                   union-size (blocked by shingle, never all-pairs)
- minhash LSH    : shingle hashes → P minhash aggregates → band buckets →
                   candidate pairs only within equal buckets
- simhash        : 60-bit sign fingerprint of token hashes; near-dups =
                   equal fingerprint (or banded hamming buckets)
- embedding      : cosine near-dup pairs blocked by a partition key
                   (label / IVF centroid) so the self-join never goes
                   quadratic in the corpus

Hashes come from ``functions.hashing`` (md5-derived, engine-portable) so the
DuckDB oracle can reproduce every value bit-for-bit.

All pair emitters return each unordered pair once (left id < right id).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_db_api_spark.functions import hashing as H
from vector_db_api_spark.functions import text as T
from vector_db_api_spark.functions import vector as V


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread CPU-heavy per-row work across the cluster when the source has
    fewer splits than cores (a small parquet file arrives as ONE split, so
    shingling/hashing would otherwise serialize on a single task). At real
    scale inputs have >= cores splits and this is a no-op — the repartition
    shuffle only ever moves data that was too small to split."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# -- exact ------------------------------------------------------------------

def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (after normalization) documents.

    Returns (fingerprint, keeper_id, dup_count) for every content group;
    dup_count > 1 marks duplicates. One hash-shuffle; map-side partial agg.
    """
    return (
        docs.select(T.fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one row (min id) per identical content group."""
    keepers = exact_duplicates(docs, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return docs.join(keepers, id_col, "left_semi")


# -- shingles / n-gram jaccard ------------------------------------------------

def shingle_hashes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle_hash) — h32 of the k-word shingles per doc.

    ``distinct=True`` (set semantics) costs one shuffle and is required
    wherever shingle COUNTS matter (Jaccard sizes, df caps). Operators that
    only take a MIN over the shingle set (minhash) pass ``distinct=False`` —
    min(multiset) == min(set), so they skip that entire shuffle.
    """
    sh = _parallelize(docs).select(
        F.col(id_col),
        F.explode(H.word_shingles(T.normalize_text(text_col), k)).alias("shingle"),
    ).select(id_col, H.h32(F.col("shingle")).alias("shingle_hash"))
    return sh.distinct() if distinct else sh


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over k-word shingle sets.

    Blocked self-join on shingle_hash (pairs only materialize for docs that
    SHARE a shingle — never a full cross product), then
    ``|A∩B| / (|A|+|B|-|A∩B|)``. Returns (left_id, right_id, jaccard).

    ``max_shingle_df`` drops shingles shared by more than that many documents
    BEFORE the self-join (standard MinHash practice): one boilerplate
    stop-phrase shared by 1M docs would otherwise make its block quadratic at
    100 TB. Jaccard is then computed over the capped shingle universe (sizes
    counted after the cap, so the ratio stays internally consistent).
    """
    # ONE shuffle groups the multiset into per-shingle doc-id sets
    # (collect_set dedups, so no separate distinct pass), applies the df cap
    # to the set size, and keeps the groups in place for pair generation —
    # the two-sided self-join this replaces shuffled the raw shingle table
    # twice more and the df-cap a further two times.
    groups = (
        shingle_hashes(docs, id_col, text_col, k, distinct=False)
        .groupBy("shingle_hash")
        .agg(F.collect_set(id_col).alias("ids"))
    )
    if max_shingle_df is not None:
        groups = groups.filter(F.size("ids") <= max_shingle_df)
    sizes = (
        groups.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # pairs explode in place: ≤ df_cap² rows per shingle by construction
    inter = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("left_id"), "ids")
        .select("left_id", F.explode("ids").alias("right_id"))
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Join strategy pinned to SHUFFLED HASH with the per-doc sizes side as
    # the build: `inter` is a multi-stage aggregate whose planner size
    # estimate is unreliable, and on a shingle-dense corpus it is ORDERS
    # larger than its estimate — at sf1 (50k docs, ~27k distinct shingles)
    # the static planner picked inter as the BROADCAST build side and the
    # driver OOMed collecting ~10^8 pair rows. sizes is one row per doc
    # (always ≤ the corpus, always ≤ inter), so building it per partition
    # is bounded; no driver collect, no sort, correct at any corpus size.
    return (
        inter.join(sizes.withColumnRenamed(id_col, "left_id")
                   .withColumnRenamed("sz", "lsz").hint("shuffle_hash"),
                   "left_id")
        .join(sizes.withColumnRenamed(id_col, "right_id")
              .withColumnRenamed("sz", "rsz").hint("shuffle_hash"),
              "right_id")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("lsz") + F.col("rsz") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


# -- minhash LSH ---------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    seed: int = H.MINHASH_SEED,
) -> DataFrame:
    """(id, mh0..mh{P-1}) — minimum of each universal hash over the doc's
    shingle h32 set. One explode + one groupBy (map-side partial min);
    the dedup shuffle is skipped because min is multiset-invariant."""
    sh = shingle_hashes(docs, id_col, text_col, k, distinct=False)
    return sh.groupBy(id_col).agg(*H.minhash_agg_exprs(num_hashes, "shingle_hash", seed))


def minhash_band_table(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    seed: int = H.MINHASH_SEED,
) -> DataFrame:
    """(id, band_no, bucket) rows — the persistable LSH membership table.

    Two docs are near-dup candidates iff they share a (band_no, bucket) row,
    so this table is the incremental-dedup state: append each new batch's
    rows and join new rows against it (streaming/dedup.py)."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    rows = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, id_col, text_col, k, seed)
    sig_cols = [f"mh{i}" for i in range(num_hashes)]
    banded = sigs.select(
        id_col,
        *[
            H.band_id(sig_cols, b, rows).alias(f"band{b}")
            for b in range(bands)
        ],
    )
    return banded.selectExpr(
        id_col,
        "stack({n}, {args}) as (band_no, bucket)".format(
            n=bands,
            args=", ".join(f"{b}, band{b}" for b in range(bands)),
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    seed: int = H.MINHASH_SEED,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    bands × rows_per_band = num_hashes; with (16, 4) the match threshold is
    ≈ (1/4)^(1/4) ≈ 0.71 Jaccard. Returns (left_id, right_id, n_bands)
    distinct pairs; feed to ``ngram_jaccard_pairs`` of the pair subset (or
    accept as-is) for verification.

    ``max_bucket_size`` drops degenerate buckets (e.g. the empty-text
    signature) whose membership exceeds the cap — set it at 100 TB where one
    pathological bucket would go quadratic; default None preserves exact
    all-pairs semantics within buckets.
    """
    stacked = minhash_band_table(docs, num_hashes, bands, id_col, text_col, k, seed)
    # group each band bucket's members once, explode pairs in place — one
    # shuffle on (band_no, bucket) instead of a two-sided self-join
    groups = stacked.groupBy("band_no", "bucket").agg(
        F.collect_list(id_col).alias("ids")
    )
    if max_bucket_size is not None:
        groups = groups.filter(F.size("ids") <= max_bucket_size)
    return (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("left_id"), "ids")
        .select("left_id", F.explode("ids").alias("right_id"))
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


# -- simhash ---------------------------------------------------------------------

def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 60,
) -> DataFrame:
    """(id, simhash) — 60-bit sign fingerprint over token h60 hashes.

    Explode tokens → per (doc, bit) majority vote via sum(±1) — expressed as
    one groupBy(doc) with nbits conditional sums (map-side combinable, single
    shuffle), then bit-pack. Engine-portable (h60 is md5-derived).
    """
    toks = _parallelize(docs).select(
        F.col(id_col),
        F.explode(F.split(T.normalize_text(text_col), " ")).alias("tok"),
    ).select(id_col, H.h60(F.col("tok")).alias("th"))
    # r16 (guide §7.3): the per-bit vote/pack expressions are parsed SQL
    # strings (one py4j call each / one for the whole pack chain) instead
    # of 60 Column-API call chains — construction cost, not semantics;
    # integer arithmetic is identical term for term
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(th, {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS b{i}"
        )
        for i in range(nbits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    packed = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(nbits)
    )
    return agg.select(
        id_col, F.expr(f"CAST(0 AS BIGINT) + {packed}").alias("simhash")
    )


def simhash_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Docs whose simhash collides exactly (near-identical token bags).
    Returns (simhash, keeper_id, dup_count)."""
    return (
        simhash(docs, id_col, text_col)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_distance: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 60,
) -> DataFrame:
    """Near-duplicate pairs by simhash hamming distance ≤ ``max_distance``.

    Banded by the pigeonhole principle: split the fingerprint into
    ``max_distance + 1`` bit-bands — any pair within the distance bound must
    agree EXACTLY on at least one band, so candidates come from equality
    joins on (band_no, band_bits), never an all-pairs scan. The true
    distance (xor popcount) then filters candidates. One banded self-join +
    one projection; fully SQL-expressible (bit_count is ANSI-ish in both
    Spark and DuckDB).
    """
    sh = simhash(docs, id_col, text_col, nbits)
    return hamming_pairs(sh, id_col, "simhash", max_distance, nbits)


def hamming_pairs(
    fps: DataFrame,
    id_col: str,
    fp_col: str,
    max_distance: int = 3,
    nbits: int = 60,
) -> DataFrame:
    """Pigeonhole-banded near-pairs over ANY int64 fingerprint column
    (simhash, media perceptual hash, ...): the banding/self-join core of
    :func:`simhash_hamming_pairs`, usable with fingerprints computed
    elsewhere."""
    bands = max_distance + 1
    width = nbits // bands
    mask = (1 << width) - 1
    stacked = fps.select(
        id_col,
        fp_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_no"),
                    F.shiftright(fp_col, b * width).bitwiseAND(F.lit(mask)).alias("band_bits"),
                )
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select(id_col, fp_col, "bd.band_no", "bd.band_bits")
    # group band buckets once, explode member pairs in place (single
    # shuffle on (band_no, band_bits) instead of a two-sided self-join)
    groups = stacked.groupBy("band_no", "band_bits").agg(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(fp_col).alias("h"))).alias("ms")
    )
    return (
        groups.filter(F.size("ms") >= 2)
        .select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.i") < F.col("b.i"))
        .select(
            F.col("a.i").alias("left_id"),
            F.col("b.i").alias("right_id"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_distance)
    )


# -- embedding cosine near-dup ------------------------------------------------

def _gram_pair_hits(ids, unit, thr):
    """Shared BLAS pair kernel for the blocked near-dup twins: sort by id
    (left < right by construction), one gram matrix, strict-upper-triangle
    threshold test. Returns (left_ids, right_ids, cosines) arrays — ONE
    implementation so a tie-break/threshold fix can't silently miss a
    twin (the round-5 tril lesson)."""
    import numpy as np

    order = np.argsort(ids)
    unit, ids = unit[order], ids[order]
    gram = unit @ unit.T
    li, ri = np.triu_indices(len(ids), k=1)
    hit = gram[li, ri] >= thr
    return ids[li[hit]], ids[ri[hit]], gram[li[hit], ri[hit]]

def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    ``block_col`` (a label / cluster / IVF-centroid column) is REQUIRED at
    scale: the self-join is equi-keyed on the block, so candidate pairs stay
    linear-ish in the corpus instead of quadratic. Derive one with
    ``block_by_ivf`` when the data has no natural blocking key. The unblocked
    O(n²) cross-join only runs with an explicit ``allow_full_cross=True``
    (small-corpus/testing escape hatch) and is logged.
    Returns (left_id, right_id, cosine).

    Unit vectors are precomputed BEFORE the self-join (cosine of units = one
    dot fold per pair instead of dot + two norms — 3× less pair work; zero
    vectors drop here, matching cosine's 0.0-below-any-threshold guard).
    """
    e = (
        vectors.filter(F.col(vec_col).isNotNull())
        .withColumn("__u", V.normalize(V.as_double_array(vec_col)))
        .filter(F.col("__u").isNotNull())
    )
    lcols = [F.col(id_col).alias("left_id"), F.col("__u").alias("__lv")]
    rcols = [F.col(id_col).alias("right_id"), F.col("__u").alias("__rv")]
    if block_col is not None:
        a = e.select(F.col(block_col).alias("__blk"), *lcols)
        b = e.select(F.col(block_col).alias("__blk"), *rcols)
        pairs = a.join(b, "__blk")
    elif allow_full_cross:
        logging.getLogger(__name__).warning(
            "embedding_neardup_pairs: running UNBLOCKED O(n^2) cross-join; "
            "pass block_col (e.g. via block_by_ivf) for any real corpus"
        )
        pairs = e.select(*lcols).crossJoin(e.select(*rcols))
    else:
        raise ValueError(
            "embedding_neardup_pairs requires block_col (derive one with "
            "block_by_ivf) or an explicit allow_full_cross=True"
        )
    return (
        pairs.filter(F.col("left_id") < F.col("right_id"))
        .withColumn("cosine", V.dot("__lv", "__rv"))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


def embedding_neardup_pairs_numpy(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """``embedding_neardup_pairs`` with the per-block pair scoring done as
    one numpy gram matrix (``U @ U.T``) per block inside ``applyInPandas``
    — the BLAS path for the same math. ~10× less CPU than the per-pair
    fold; use the fold variant only when bit-exact sequential-sum parity
    with a SQL oracle matters. Block sizes must fit an Arrow batch
    (the blocking key bounds them by construction).

    Returns (left_id, right_id, cosine) with left < right, like the fold
    variant; pair sets are identical, cosines differ only by float
    summation order (≤ ~1e-12 relative).
    """
    if block_col is None:
        raise ValueError(
            "embedding_neardup_pairs_numpy requires block_col (derive one "
            "with block_by_ivf)"
        )
    import numpy as np
    import pandas as pd

    id_kind = vectors.schema[id_col].dataType.simpleString()
    out_schema = f"left_id {id_kind}, right_id {id_kind}, cosine double"
    thr = float(threshold)

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        if keep.sum() < 2:
            return pd.DataFrame({"left_id": [], "right_id": [], "cosine": []})
        unit = mat[keep] / norms[keep, None]
        ids = pdf[id_col].to_numpy()[keep]
        left, right, cos = _gram_pair_hits(ids, unit, thr)
        return pd.DataFrame({"left_id": left, "right_id": right, "cosine": cos})

    return (
        vectors.filter(F.col(vec_col).isNotNull())
        .select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(score_block, schema=out_schema)
    )


def block_by_ivf(
    vectors: DataFrame,
    num_centroids: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Attach an IVF-centroid blocking column for embedding near-dup at scale.

    Trains a small spherical k-means (MLlib) and joins the nearest-centroid
    assignment back as ``block_id``. Pairs straddling a centroid boundary are
    missed — the standard recall/cost tradeoff; raise num_centroids for
    smaller blocks or run multi-probe assignment for higher recall.
    """
    from vector_db_api_spark.operators.ivf import IVFIndex

    ivf = IVFIndex.train(vectors, num_centroids=num_centroids, vec_col=vec_col, seed=seed)
    assign = ivf.assign(vectors, id_col=id_col, vec_col=vec_col).withColumnRenamed(
        "centroid_id", "block_id"
    )
    return vectors.join(assign, id_col)


def multiprobe_cells(
    vectors: DataFrame,
    centroids,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, __u, cell) with ``nprobe`` rows per vector: its top-nprobe
    centroid cells by dot product (first-max argmax at each rank, numpy
    semantics — replayed exactly by the DuckDB oracle via iterated
    mask-and-argmax). Expression-only, scan-fused; row count is
    nprobe × corpus, the explicit recall/cost knob.

    This is the ORACLE-REPLAYABLE path: the centroid matrix folds into the
    plan as literals, so K is model-sized by construction (hundreds, not
    the 2√n cells IVF auto-sizing reaches). At production K, probe with
    numpy instead (``embedding_neardup_pairs_multiprobe_numpy`` /
    ``IVFIndex.assign_queries``).

    r16 (guide §7.3 "very large plans"): the probe is built as TWO
    server-side expressions — one parsed K×d dot matrix
    (``V.dots_const_matrix``) and one ``aggregate`` over
    ``sequence(1, nprobe)`` that iterates the mask-and-argmax chain
    inside a single projection. The previous shape (per-rank
    ``withColumn`` pairs over a per-centroid Column-API literal loop)
    paid K·d py4j round-trips plus one eager re-analysis of the
    literal-heavy plan per withColumn at query CONSTRUCTION — measured
    ~5s per probe side at K=32, d=64, nprobe=6, against ~0.2s of actual
    execution. Values are bit-identical: same fold order, same literal
    bits, same iterated first-max masking (verified by exceptAll both
    ways and the unchanged oracle replay).

    Zero/null vectors drop (no semantic location), matching
    ``semdedup.assign_diversity``.
    """
    from vector_db_api_spark.functions import vector as V

    d = V.as_double_array(vec_col)
    e = (
        vectors.filter(F.col(vec_col).isNotNull())
        .withColumn("__d", d)
        .withColumn("__n", V.norm("__d"))
        .filter(F.col("__n") != 0.0)
        .withColumn("__u", F.transform("__d", lambda x: x / F.col("__n")))
        .withColumn("__dots0", V.dots_const_matrix("__d", centroids))
    )
    np_eff = min(nprobe, len(centroids))
    # accumulator: (masked dots so far, 0-based argmax per rank so far);
    # each step appends this rank's first-max position, then masks it to
    # -inf — exactly the old per-rank withColumn chain, in one expression
    chain = (
        f"aggregate(sequence(1, {int(np_eff)}), "
        "struct(__dots0 AS d_, cast(array() as array<int>) AS p_), "
        "(acc_, i_) -> struct("
        "zip_with(acc_.d_, sequence(1, size(acc_.d_)), (x_, j_) -> "
        "if(j_ = array_position(acc_.d_, array_max(acc_.d_)), "
        "cast('-Infinity' as double), x_)) AS d_, "
        "concat(acc_.p_, array(cast(array_position(acc_.d_, "
        "array_max(acc_.d_)) as int) - 1)) AS p_), "
        "acc_ -> acc_.p_)"
    )
    return e.select(
        id_col, "__u", F.explode(F.expr(chain)).alias("cell")
    )


def embedding_neardup_pairs_multiprobe(
    vectors: DataFrame,
    centroids,
    threshold: float = 0.95,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid-blocked near-dup pairs with MULTI-PROBE blocking: a pair
    is a candidate when the two vectors share ANY of their top-nprobe
    cells. Single-cell blocking (``block_by_ivf`` + equi-join) misses
    exactly the pairs that straddle a Voronoi boundary — the classic
    blocked-dedup recall gap; probing each vector's runner-up cells closes
    most of it for nprobe × the candidate cost (still equi-keyed, still
    nothing quadratic outside a cell). Returns (left_id, right_id, cosine)
    distinct — a pair co-blocked in several cells scores once (the fold
    cosine is deterministic, so DISTINCT collapses exact duplicates).
    """
    from vector_db_api_spark.functions import vector as V

    s = multiprobe_cells(
        vectors, centroids, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    )
    a = s.select(
        F.col("cell"), F.col(id_col).alias("left_id"), F.col("__u").alias("__lv")
    )
    b = s.select(
        F.col("cell"), F.col(id_col).alias("right_id"), F.col("__u").alias("__rv")
    )
    return (
        a.join(b, "cell")
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn("cosine", V.dot("__lv", "__rv"))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
        .distinct()
    )


def embedding_neardup_pairs_multiprobe_numpy(
    vectors: DataFrame,
    centroids,
    threshold: float = 0.95,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BLAS twin of :func:`embedding_neardup_pairs_multiprobe`: probe
    assignment AND pair scoring both run in numpy (Arrow-batched matmul
    top-nprobe via a broadcast-shipped centroid matrix, then one gram per
    cell inside ``applyInPandas``) — the production path at IVF-scale K
    where the expression twin's plan-literal centroids stop making sense.
    Pair SET identical to the fold twin up to argmax/threshold ulp ties
    (measure-zero for continuous embeddings — the semdedup_dropped_numpy
    contract); cosines are projected away. Returns (left_id, right_id)
    distinct."""
    import numpy as np
    import pandas as pd

    from vector_db_api_spark.functions.ship import ship_model

    id_kind = vectors.schema[id_col].dataType.simpleString()
    out_schema = f"left_id {id_kind}, right_id {id_kind}"
    thr = float(threshold)
    shipped = ship_model(vectors, np.asarray(centroids, dtype=np.float64))
    np_probe = min(nprobe, len(centroids))

    def probe_batches(batches):
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
            if np_probe < dots.shape[1]:
                top = np.argpartition(-dots, np_probe - 1, axis=1)[:, :np_probe]
            else:
                top = np.broadcast_to(
                    np.arange(dots.shape[1]), (len(unit), dots.shape[1])
                )
            ids = pdf[id_col].to_numpy()[keep]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, top.shape[1]),
                    "__u": list(np.repeat(unit, top.shape[1], axis=0)),
                    "cell": top.reshape(-1).astype(np.int32),
                }
            )

    s = vectors.filter(F.col(vec_col).isNotNull()).mapInPandas(
        probe_batches,
        schema=f"{id_col} {id_kind}, __u array<double>, cell int",
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"left_id": [], "right_id": []}).astype(
                {"left_id": pdf[id_col].dtype, "right_id": pdf[id_col].dtype}
            )
        unit = np.asarray(pdf["__u"].tolist(), dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        left, right, _ = _gram_pair_hits(ids, unit, thr)
        return pd.DataFrame({"left_id": left, "right_id": right})

    return (
        s.groupBy("cell")
        .applyInPandas(score_cell, schema=out_schema)
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component) labeling of the near-dup pair graph — the step that
    turns pairwise matches (minhash/simhash/jaccard/embedding pairs) into
    dedup GROUPS with one representative each (component = min member id).

    Algorithm: iterative min-label propagation — each round every node
    adopts the smallest label among itself and its neighbors; converged when
    no label changes. Rounds needed = graph diameter (near-dup clusters are
    shallow — a handful of rounds), each round ONE shuffle-join keyed on the
    node id plus a min-aggregate; nothing is ever collected to the driver.
    The convergence probe is a count of changed labels (cheap: sum over the
    joined frame), so the driver loop runs O(diameter) tiny jobs.

    Cross-engine note: the same grouping is SQL-expressible as a recursive
    transitive closure + min-over-reachable (see suite oracle), which is the
    bit-for-bit check — propagation and closure must agree exactly.
    """
    a, b = F.col(left_col), F.col(right_col)
    # undirected edge list, materialized in both directions (nodes appearing
    # only on one side still get a label because every node is a src here)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .union(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .cache()
    )
    # localCheckpoint (not cache) after every round: iterative joins grow
    # the logical plan exponentially under AQE — truncating lineage keeps
    # each round's plan O(1) and the driver heap flat
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    try:
        changed = 0
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            updated = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.col("component").alias("old_component"),
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            changed = updated.filter(
                F.col("component") != F.col("old_component")
            ).count()
            labels = updated.select("id", "component")
            if changed == 0:
                break
        if changed:
            # exhausted the round budget mid-propagation: labels are valid
            # but long chains may still be split into multiple components —
            # surface it instead of returning silently-wrong groups
            import warnings

            warnings.warn(
                f"connected_components did not converge within "
                f"{max_iterations} iterations ({changed} labels still "
                f"changing); raise max_iterations (rounds needed = graph "
                f"diameter)",
                RuntimeWarning,
                stacklevel=2,
            )
        return labels
    finally:
        edges.unpersist()


def connected_components_alternating(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iterations: int = 30,
    on_nonconverged: str = "warn",
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) labeling via the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — same output contract as
    :func:`connected_components` (component = min member id), different
    round complexity: O(log² n) rounds regardless of graph shape, vs
    min-label propagation's O(diameter).

    Why both exist: near-dup graphs are usually shallow (propagation wins
    — fewer, cheaper rounds), but real dup graphs grow long CHAINS —
    boilerplate families where A≈B≈C≈… without A≈C, crawl snapshots of a
    page drifting over months — and a 10 000-link chain costs propagation
    10 000 shuffle rounds while this converges in ~14. Since r8 this is
    the PRODUCTION default in every component-consuming path (dedup_near,
    leakage_split, the suite component/canonical/modern-clean queries);
    propagation remains for shallow-graph runs where its cheaper rounds
    win and as the independent cross-implementation for the equivalence
    tests.

    Per round, two operations over the edge list, each ONE groupBy
    shuffle on the smaller endpoint's neighborhood:

    - **large-star**: every node u links each STRICTLY LARGER neighbor to
      m(u) = min(Γ(u) ∪ {u}) — long chains fold toward small ids from
      every node at once, which is where the log² speedup comes from;
    - **small-star**: every node u re-links its ≤ neighbors (and itself)
      to m(u) — canonicalizes the partial stars so the next large-star
      sees shallow neighborhoods.

    Both preserve connectivity (paper, Lemma 1-2); the fixpoint is a
    star per component centered at its min id, read off as the labels.
    ``stats`` (optional dict) receives ``{"rounds", "converged"}`` after
    the run — scale artifacts report measured round counts rather than
    asserting the O(log²) bound.
    ``on_nonconverged`` controls the iteration-guard exit: ``"warn"``
    (default) emits a RuntimeWarning and returns one PROVISIONAL label per
    node (smallest-reachable-so-far — components may be split);
    ``"raise"`` errors instead — the contract keep-one-per-group consumers
    need, since a split labeling silently both over-keeps and over-drops.
    ``localCheckpoint`` per round truncates the iterative-join lineage
    (same driver-heap discipline as propagation). Nothing collects to
    the driver; the convergence probe is a count.

    Reference parity note: the reference engine has no distributed CC at
    all (its dedup is per-process dict walks); both CC variants answer
    the same SURVEY §2.7 set-union need, proven equal on the same
    recursive-closure DuckDB oracle (suite: dedup_components /
    dedup_components_altstar).
    """
    a, b = F.col(left_col), F.col(right_col)
    # snapshot the pair set ONCE (r16, guide §1.2): nodes read it twice
    # (the endpoint union) and edges a third time, so an expensive pairs
    # lineage (doc_leakage_split feeds the whole minhash-LSH pipeline
    # here) was re-evaluated up to three times; the checkpoint is
    # pair-set-sized — the same storage class as the edge checkpoints
    # the loop already keeps
    snap = pairs.select(a.alias("u"), b.alias("v")).localCheckpoint(
        eager=True
    )
    # capture every endpoint up front: the star contraction drops nodes
    # from the edge list as they become roots' direct children of
    # themselves (and isolated self-pairs immediately), but the output
    # contract labels every node that appeared in a pair. Reading the
    # SNAPSHOT (not the live lineage) also pins nodes and edges to the
    # same evaluation of a possibly non-deterministic input; no eager
    # checkpoint needed — its two cached reads happen in the final
    # label join.
    nodes = (
        snap.select(F.col("u").alias("id"))
        .union(snap.select(F.col("v").alias("id")))
        .distinct()
    )
    edges = (
        snap.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    _w = Window.partitionBy("u")

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # r15 (guide §1.2 — this loop is ROUND-overhead-bound long before
        # it is data-bound): both edge directions come from ONE read of the
        # checkpointed input via explode, not union(e, swap(e)); the round
        # checkpoint is LAZY — it materializes inside the convergence
        # probe's count() instead of paying a dedicated eager job per star.
        #
        # r16: each star is ONE window exchange instead of a groupBy-mins
        # + join pair (2 exchanges), and only the small star — the round
        # output the convergence probe compares as a set — pays a distinct
        # (the large star's duplicates are bounded by |e| rows and min()
        # is duplicate-insensitive, so the round output SET is unchanged).
        # Per round: 3 exchanges instead of the r15 shape's 5 on roughly
        # the same shuffled bytes (the window ships the full neighbor
        # list once ≈ what the partial-agg mins + filtered join side
        # shipped between them); the loop's wall is stage-barrier count,
        # not bytes. WindowExec buffers one u-group at a time in a
        # spillable row array, so a hot node degrades to disk instead of
        # OOM — the same worst case the SMJ build side had. The small
        # star's own (u, m) re-link rows come from the v == min(v) rows of
        # each group — no second aggregation. Its input is the large
        # star's output, a multiset (no distinct), so a group can hold
        # several such rows; the small star's trailing distinct() is what
        # restores the set the convergence probe compares. Verified:
        # labels identical to the r15 implementation by exceptAll both
        # ways; same round count.
        nbr = (
            e.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u"), F.col("v")),
                        F.struct(
                            F.col("v").alias("u"), F.col("u").alias("v")
                        ),
                    )
                ).alias("__p")
            )
            .select("__p.u", "__p.v")
        )
        ann = nbr.select(
            "u", "v", F.min("v").over(_w).alias("__mv")
        ).select(
            "u", "v", F.col("__mv"),
            F.least(F.col("__mv"), F.col("u")).alias("__m"),
        )
        side = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        linked = ann.filter(side).select(
            F.col("v").alias("u"), F.col("__m").alias("v")
        )
        if not large:
            # small-star also re-links u itself to its min
            linked = linked.union(
                ann.filter(F.col("v") == F.col("__mv")).select(
                    F.col("u"), F.col("__m").alias("v")
                )
            )
        out = linked.filter(F.col("u") != F.col("v"))
        if not large:
            out = out.distinct()
        return out.localCheckpoint(eager=False)

    converged = False
    rounds = 0
    # r16 (guide §1.2): this round's after.count() IS next round's
    # edges.count() — memoize it instead of re-running a count job per
    # round (the re-count was cached-read cheap but still one driver
    # round-trip × rounds; the loop is round-latency-bound)
    edges_count = edges.count()
    for _ in range(max_iterations):
        rounds += 1
        after = _star(_star(edges, large=True), large=False)
        # fixpoint when the (distinct) edge set is unchanged. Both frames
        # are distinct sets, so equal counts + one-direction containment
        # (after ⊆ edges) imply equality. after.count() doubles as the
        # round's checkpoint-materialization job (the per-star checkpoints
        # are lazy); non-converged rounds (counts differ) skip the
        # anti-join probe entirely and the final round pays ONE exceptAll
        # instead of two
        after_count = after.count()
        if after_count == edges_count and after.exceptAll(edges).isEmpty():
            edges = after
            converged = True
            break
        edges = after
        edges_count = after_count
    if stats is not None:
        # observability out-param (scale artifacts report round counts —
        # the O(log²) claim should be measured, not asserted)
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        msg = (
            f"connected_components_alternating did not converge within "
            f"{max_iterations} iterations; raise max_iterations "
            f"(rounds needed ~ log² of the largest component)"
        )
        if on_nonconverged == "raise":
            # keep-one-per-group callers (dedup_near, leakage_split) pass
            # this: a provisional labeling can hand two ids of ONE true
            # component different labels that are themselves other docs'
            # ids, so "keep component==id" would keep several
            # representatives AND drop a doc another doc points at — a
            # silently-wrong dedup is worse than a loud retry with a
            # higher iteration budget (r8 advice)
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
        # mid-contraction a node can still hold SEVERAL outgoing edges —
        # joining nodes against that set would emit multiple (id, component)
        # rows per id, breaking the one-row-per-id contract (r7 advice).
        # Reduce to one provisional label (the smallest reachable-so-far);
        # the warning above already flags that labels may be split.
        edges = edges.groupBy("u").agg(F.min("v").alias("v"))
    # fixpoint edges form (member, min) stars; roots and isolated
    # self-pair nodes label themselves
    return nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("__m")),
        "id",
        "left",
    ).select("id", F.coalesce(F.col("__m"), F.col("id")).alias("component"))


def dedup_near(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    seed: int = H.MINHASH_SEED,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Keep one representative (min id) per near-dup group: minhash-LSH
    pairs → connected components → anti-join the non-representatives.
    The near-dup analogue of :func:`dedup_exact`; docs in no pair survive
    untouched.

    Components run through the alternating large-star/small-star variant
    (the production default since r8): real dup graphs grow long chains
    — boilerplate families, crawl snapshots of a drifting page — and
    min-label propagation's O(diameter) rounds silently exceed the
    iteration guard there, returning SPLIT components; the alternating
    algorithm converges in O(log²) rounds on any shape (equivalence
    pinned by tests/test_dedup.py)."""
    pairs = minhash_lsh_pairs(
        docs, num_hashes=num_hashes, bands=bands, id_col=id_col,
        text_col=text_col, k=k, seed=seed, max_bucket_size=max_bucket_size,
    )
    comp = connected_components_alternating(
        pairs, "left_id", "right_id", on_nonconverged="raise"
    )
    non_reps = comp.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(non_reps, id_col, "left_anti")


def span_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared_fps: int = 2,
    max_fp_df: int | None = 1000,
) -> DataFrame:
    """(left_id, right_id, n_shared_fps): docs sharing winnowing
    fingerprints — SPAN-level overlap detection.

    Whole-document measures (minhash/simhash/Jaccard) miss a long quoted
    passage inside two otherwise-different documents; winnowing guarantees
    any shared run of ``window + k - 1`` words yields a shared fingerprint
    (functions/text.py winnow_table), so counting shared fingerprints per
    pair surfaces exactly those partial overlaps. This is the standard
    copy-detection composition (MOSS): fingerprint → invert → pair-count.

    Same scale shape as :func:`ngram_jaccard_pairs`: ONE shuffle groups
    fingerprints into per-fp doc-id sets, ``max_fp_df`` drops boilerplate
    fingerprints (a span shared by thousands of docs is a template, and
    would make its block quadratic) BEFORE pairs explode in place.
    """
    from vector_db_api_spark.functions.kernels import winnow_table_np

    # The Arrow kernel twin (bit-equal to text.winnow_table, pinned in
    # tests/test_kernels.py) rather than the expression path: exploding a
    # Column-expression array re-evaluates the O(S·w) hash pipeline per
    # OUTPUT row once CollapseProject inlines it into Generate — measured
    # 224s -> 5.5s at sf0.1. The mapInPandas stage physically materializes
    # the array, so the explode reads data, not an expression.
    fps = winnow_table_np(_parallelize(docs), id_col, text_col, k, window).select(
        F.col(id_col), F.explode("winnow_fps").alias("fp")
    )
    groups = fps.groupBy("fp").agg(F.collect_set(id_col).alias("ids"))
    if max_fp_df is not None:
        groups = groups.filter(F.size("ids") <= max_fp_df)
    return (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("left_id"), "ids")
        .select("left_id", F.explode("ids").alias("right_id"))
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared_fps)
    )


def select_canonical(
    components: DataFrame,
    quality: DataFrame,
    quality_col: str,
    id_col: str = "id",
    comp_col: str = "component",
) -> DataFrame:
    """(component, canonical_id, n_members, best_quality): pick each dedup
    group's representative by quality.

    ``connected_components`` answers "which docs are the same"; this
    answers "which copy do we keep" — the canonicalization step between
    dedup and the training corpus. Highest ``quality_col`` wins (the score
    must be engine-reproducible for cross-engine determinism — the model
    logit and the heuristic quality_score both are); ties break to the
    smallest id, so the choice is a pure function of the inputs.

    One join keyed on the id, then ONE shuffle on the component for the
    rank-and-count window; components are dup groups (bounded, shallow), so
    no window partition can be corpus-sized.
    """
    from pyspark.sql import Window

    j = components.join(quality, id_col)
    w = Window.partitionBy(comp_col).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    wc = Window.partitionBy(comp_col)
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(comp_col).alias("component"),
            F.col(id_col).alias("canonical_id"),
            F.col("__n").cast("long").alias("n_members"),
            F.col(quality_col).alias("best_quality"),
        )
    )
