"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023, "Data Selection for Language Models via Importance Resampling").

The production recipe for "make my 100 TB crawl look like my 10 GB target
corpus": featurize every document into hashed n-gram buckets, fit two bag-
of-buckets unigram distributions (target vs raw pool), weight each pool
document by its log importance ratio Σ_f [log p_target(b(f)) −
log p_raw(b(f))], and keep the top-weighted (the paper resamples with
Gumbel noise — :func:`dsir_sample` implements exactly that with seeded,
id-keyed noise; the deterministic top-k :func:`dsir_select` is the same
estimator with temperature → 0).

Scale shape (everything corpus-sized stays distributed):

- featurization is a scan (explode to one row per unigram+bigram);
- the two distributions are ONE groupBy each over ``buckets`` keys —
  the model is at most ``buckets`` rows (2^13 here, 2^20 in the paper's
  config), i.e. broadcastable by construction, never vocabulary-sized;
- scoring is an explode + broadcast-join + one groupBy(doc) shuffle —
  the exact cost shape of ``lm.doc_nll_join``.

Cross-engine determinism (the suite oracles ``doc_dsir_select`` /
``doc_dsir_sample`` replay this bit-for-bit in DuckDB): buckets use the
portable md5-based ``h32`` (functions/hashing),
log-ratios are computed from EXACT integer counts with the platform libm
``math.log`` inside an Arrow pandas_udf over the bucket table (NOT
``F.log``/JVM and NOT numpy's SIMD log — see lm.train_unigram_df for the
measured ulp disagreement), and the per-document sum re-sorts terms into
positional order before a sequential left fold, so the double accumulation
order matches the SQL oracle's ordered-list fold exactly.

Reference parity: the reference engine has no data-selection surface at
all (its corpus is whatever was upserted); DSIR is part of this repo's
LLM-training-pipeline extension alongside dedup/decontaminate/quality
(SURVEY.md §2.11)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T

DEFAULT_BUCKETS = 8192


def _features(text_col: str) -> F.Column:
    """Unigrams then bigrams of the normalized token stream, one array in
    a deterministic positional order (unigram i at position i, bigram j at
    position n_tokens + j) — the order the scoring fold accumulates in."""
    toks = F.filter(
        F.split(T.normalize_text(text_col), " "), lambda t: t != F.lit("")
    )
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                  F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def hashed_ngram_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(id, pos, bucket): every unigram+bigram of every doc, hashed into
    ``buckets`` with the portable h32 — one row per feature OCCURRENCE
    (DSIR weights repeats; dedup'ing here would change the estimator).

    The input is ``_parallelize``d first: featurization is the pipeline's
    CPU (an md5 per feature occurrence), and a small parquet source
    arrives as ONE split, serializing all of it on a single task — at
    real scale the input already has ≥ cores splits and the helper
    no-ops (operators/dedup.py:35)."""
    from .dedup import _parallelize

    docs = _parallelize(docs)
    return docs.select(
        F.col(id_col),
        F.posexplode(_features(text_col)).alias("pos", "__f"),
    ).select(
        id_col, "pos", (H.h32(F.col("__f")) % F.lit(buckets)).cast("int").alias("bucket")
    )


def bucket_counts(feats: DataFrame) -> DataFrame:
    """(bucket, c): the bag-of-buckets distribution — ≤ ``buckets`` rows."""
    return feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))


def dsir_log_ratios(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(bucket, w): w_b = log p̂_target(b) − log p̂_raw(b) with add-one
    smoothing over the full ``buckets``-sized feature space, one row per
    bucket the RAW pool realizes (a pool document can only ever hit those).

    The logs run driver-libm via pandas_udf over the ≤``buckets``-row
    model table; counts are exact integers up to that point, so the
    weights are a pure deterministic function of the two corpora.

    Both count frames are localCheckpointed first: they are ≤``buckets``
    rows but their LINEAGE is a full corpus featurization scan — without
    materialization the two scalar totals, the ratio join, and every
    downstream reuse of the weight table would each re-featurize the
    corpus (3× the scan cost at 100 TB for two KB-scale tables)."""
    from ..functions.libm import libm_log_udf

    _libm_log = libm_log_udf()
    # the two checkpoint materializations are independent full-corpus
    # featurization scans — run them as concurrent jobs (guide §2.6) so
    # the fit pays max() of the two walls, not the sum (r16). The pool
    # threads inherit the caller's local properties and tags, so both jobs
    # carry its job group and are cancelled with it.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(target_counts.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_t = pool.submit(inherit(
            lambda: target_counts.localCheckpoint(eager=True)))
        f_r = pool.submit(inherit(
            lambda: raw_counts.localCheckpoint(eager=True)))
        target_counts = f_t.result()
        raw_counts = f_r.result()
    # both scalar totals in ONE job (r16, guide §1.2 — the two sequential
    # agg+collect round-trips were pure driver latency over two cached
    # KB-scale tables); crossJoin of two 1-row aggregates, same integers
    totals = (
        target_counts.agg(F.sum("c").alias("t"))
        .crossJoin(raw_counts.agg(F.sum("c").alias("r")))
        .collect()[0]
    )
    t_denom = float((totals["t"] or 0) + buckets)
    r_denom = float((totals["r"] or 0) + buckets)
    joined = raw_counts.select(
        "bucket", F.col("c").alias("rc")
    ).join(
        target_counts.select("bucket", F.col("c").alias("tc")), "bucket", "left"
    )
    return joined.select(
        "bucket",
        (
            _libm_log((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1)) / F.lit(t_denom))
            - _libm_log((F.col("rc") + F.lit(1)) / F.lit(r_denom))
        ).alias("w"),
    )


def _feature_terms(
    docs: DataFrame,
    log_ratios: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int,
    broadcast_weights: bool,
    with_pos: bool,
) -> DataFrame:
    """Shared scoring prefix of :func:`dsir_scores` and
    :func:`dsir_scores_fast`: featurize (``explode_outer`` keeps
    feature-less docs as one null row), hash to buckets, broadcast-join
    the ≤``buckets``-row weight table, emit one ``__term`` per feature
    occurrence (NULL for the feature-less-doc row). The twins' claimed
    equivalence rests on this prefix being IDENTICAL — it exists once so
    an edit cannot silently split them. ``with_pos`` carries the
    positional column only the ordered-fold oracle shape needs."""
    from .dedup import _parallelize

    docs = _parallelize(docs)
    w = F.broadcast(log_ratios) if broadcast_weights else log_ratios
    if with_pos:
        exploded = docs.select(
            F.col(id_col),
            F.posexplode_outer(_features(text_col)).alias("pos", "__f"),
        )
        pos_cols = ["pos"]
    else:
        exploded = docs.select(
            F.col(id_col), F.explode_outer(_features(text_col)).alias("__f")
        )
        pos_cols = []
    feats = exploded.select(
        id_col,
        *pos_cols,
        F.when(
            F.col("__f").isNotNull(),
            (H.h32(F.col("__f")) % F.lit(buckets)).cast("int"),
        ).alias("bucket"),
    )
    return feats.join(w, "bucket", "left").select(
        id_col,
        *pos_cols,
        F.when(F.col("bucket").isNotNull(), F.coalesce(F.col("w"), F.lit(0.0)))
        .alias("__term"),
    )


def dsir_scores(
    docs: DataFrame,
    log_ratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    broadcast_weights: bool = True,
) -> DataFrame:
    """(id, n_feats, logratio, logratio_per_feat): each document's log
    importance weight under the fitted ratio model.

    Explode features positionally, broadcast-join the ≤``buckets``-row
    weight table (never a shuffle at any corpus size), then re-fold per
    document in positional order — the sequential double accumulation the
    oracle replays. Docs with no features score 0 over 0 (posexplode_outer
    keeps them). Same ``_parallelize`` treatment as
    :func:`hashed_ngram_buckets` — the scoring pass re-featurizes."""
    terms = _feature_terms(
        docs, log_ratios, id_col, text_col, buckets, broadcast_weights,
        with_pos=True,
    )
    return terms.groupBy(id_col).agg(
        F.count("__term").cast("int").alias("n_feats"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.filter(
                        F.collect_list(F.struct("pos", "__term")),
                        lambda s: s["__term"].isNotNull(),
                    )
                ),
                lambda s: s["__term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("logratio"),
    ).select(
        id_col,
        "n_feats",
        "logratio",
        F.when(F.col("n_feats") > 0, F.col("logratio") / F.col("n_feats"))
        .otherwise(F.lit(0.0))
        .alias("logratio_per_feat"),
    )


def dsir_fit(
    docs: DataFrame,
    target_cond: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """One-scan fit: the (bucket, w) weight table of
    :func:`dsir_log_ratios`, from a SINGLE corpus featurization pass.

    The two-frame fit (``bucket_counts`` over target, over pool,
    ``dsir_log_ratios``) featurizes the corpus twice — the right shape
    when target and pool arrive as separate tables, and the shape the
    bit-exact oracle replays. When both sides live in ONE table split by
    a predicate (the common curation case), this fits both distributions
    with one explode scan and conditional counts; every count is the same
    exact integer, the totals and add-one smoothing are identical, and
    the logs run the same driver-libm pandas_udf — the weight table is
    bit-identical to the two-scan fit (pinned by test). At 100 TB that is
    one corpus read instead of two.
    """
    from ..functions.libm import libm_log_udf
    from .dedup import _parallelize

    _libm_log = libm_log_udf()
    feats = _parallelize(docs).select(
        target_cond.alias("__t"), F.explode(_features(text_col)).alias("__f")
    ).select(
        "__t", (H.h32(F.col("__f")) % F.lit(buckets)).cast("int").alias("bucket")
    )
    counts = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("tc"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).alias("rc"),
    ).localCheckpoint(eager=True)  # ≤ buckets rows; lineage = the one scan
    totals = counts.agg(
        F.sum("tc").alias("t"), F.sum("rc").alias("r")
    ).collect()[0]
    t_denom = float((totals["t"] or 0) + buckets)
    r_denom = float((totals["r"] or 0) + buckets)
    # one row per bucket the RAW pool realizes (a pool doc can only ever
    # hit those) — same row set as dsir_log_ratios' raw-side join
    return counts.filter(F.col("rc") > 0).select(
        "bucket",
        (
            _libm_log((F.col("tc") + F.lit(1)) / F.lit(t_denom))
            - _libm_log((F.col("rc") + F.lit(1)) / F.lit(r_denom))
        ).alias("w"),
    )


def dsir_scores_fast(
    docs: DataFrame,
    log_ratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    broadcast_weights: bool = True,
) -> DataFrame:
    """Production twin of :func:`dsir_scores` (same featurization, same
    broadcast weight join) whose per-document reduction is a plain
    ``SUM`` — partially aggregated map-side with no per-document
    ``collect_list → array_sort`` array materialization, the shape to run
    at 100 TB. Float addition order is engine-chosen here (and can vary
    run to run with task scheduling), so ``logratio`` differs from the
    oracle twin within float-reassociation error; top-k MEMBERSHIP is
    identical as long as the score gap at the selection boundary exceeds
    that error — tests pin both the ~1e-12 score agreement AND a ≥1e-6
    measured boundary margin on the driver testdata, so a regenerated
    dataset with a genuine near-tie fails pytest loudly instead of
    flaking the driver's hash check.
    Keep :func:`dsir_scores` for bit-exact cross-engine replay."""
    terms = _feature_terms(
        docs, log_ratios, id_col, text_col, buckets, broadcast_weights,
        with_pos=False,
    )
    return terms.groupBy(id_col).agg(
        F.count("__term").cast("int").alias("n_feats"),
        F.coalesce(F.sum("__term"), F.lit(0.0)).alias("logratio"),
    ).select(
        id_col,
        "n_feats",
        "logratio",
        F.when(F.col("n_feats") > 0, F.col("logratio") / F.col("n_feats"))
        .otherwise(F.lit(0.0))
        .alias("logratio_per_feat"),
    )


def dsir_select(
    scores: DataFrame,
    k: int,
    id_col: str = "doc_id",
    score_col: str = "logratio_per_feat",
) -> DataFrame:
    """The selected subset: top-``k`` by per-feature log ratio (ties break
    to the smaller id — selection is a pure function of the corpus). One
    global top-k: rank() would shuffle everything to one window partition,
    so this goes through the same two-phase pattern as operators/topk —
    per-partition cap then one tiny sort.

    Length normalization (per-feat, not raw sum) is a deliberate deviation
    from the paper, which scores FIXED-LENGTH chunks; on variable-length
    documents the raw sum just measures length. For sampled (rather than
    argmax) selection à la the paper, use :func:`dsir_sample` — identical
    plan with one seeded Gumbel noise column added to ``score_col``."""
    ordered = scores.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)
    return ordered.withColumn("selected", F.lit(True))


DSIR_GUMBEL_SEED = 7

#: 2^32 + 1 — maps h32 ∈ [0, 2^32) onto u ∈ (0, 1) strictly exclusive,
#: so -log(-log(u)) is always finite
_GUMBEL_DENOM = float((1 << 32) + 1)


def dsir_gumbel_scores(
    scores: DataFrame,
    seed: int = DSIR_GUMBEL_SEED,
    id_col: str = "doc_id",
    score_col: str = "logratio_per_feat",
) -> DataFrame:
    """scores + (gumbel, sampled_score): the paper's importance RESAMPLING
    via the Gumbel-max trick — top-k of score + g_i, g_i ~ Gumbel(0,1),
    draws k documents ∝ exp(score) without replacement.

    The noise is seeded and keyed on the document id (u_i =
    (h32('gumbel{seed}:' || id) + 1) / (2^32 + 1), g_i = -log(-log u_i)),
    so the sample is a pure deterministic function of (corpus, seed):
    retry-stable, replayable by the DuckDB oracle, and free of any
    per-partition RNG state. Logs run libm via pandas_udf — the same
    cross-engine discipline as :func:`dsir_log_ratios`."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    _gumbel = pandas_udf(
        lambda u: pd.Series(
            [-math.log(-math.log(x)) for x in u], dtype="float64"
        ),
        "double",
    )
    u = (
        H.h32(F.concat(F.lit(f"gumbel{seed}:"), F.col(id_col).cast("string")))
        + F.lit(1)
    ) / F.lit(_GUMBEL_DENOM)
    return scores.withColumn("gumbel", _gumbel(u)).withColumn(
        "sampled_score", F.col(score_col) + F.col("gumbel")
    )


def dsir_sample(
    scores: DataFrame,
    k: int,
    seed: int = DSIR_GUMBEL_SEED,
    id_col: str = "doc_id",
    score_col: str = "logratio_per_feat",
) -> DataFrame:
    """Gumbel-sampled selection: top-``k`` by score + seeded Gumbel noise
    (ties → smaller id). Same two-phase global top-k plan shape as
    :func:`dsir_select` (TakeOrderedAndProject: per-partition heads, one
    driver merge — never a full sort)."""
    noisy = dsir_gumbel_scores(scores, seed, id_col, score_col)
    ordered = noisy.orderBy(F.desc("sampled_score"), F.asc(id_col)).limit(k)
    return ordered.withColumn("selected", F.lit(True))


def dsir_pipeline(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Fit-and-score composition: hash both corpora, fit the ratio model,
    score the raw pool, keep top-k. Returns the scored selection."""
    t_counts = bucket_counts(
        hashed_ngram_buckets(target_docs, id_col, text_col, buckets)
    )
    r_counts = bucket_counts(
        hashed_ngram_buckets(raw_docs, id_col, text_col, buckets)
    )
    ratios = dsir_log_ratios(t_counts, r_counts, buckets)
    scores = dsir_scores(raw_docs, ratios, id_col, text_col, buckets)
    return dsir_select(scores, k, id_col)
