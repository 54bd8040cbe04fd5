"""Model-based document quality filtering: a hashed linear classifier.

Modern LLM data pipelines gate documents with a learned quality model
(fastText-style linear classifiers in CCNet/LLaMA/DCLM; FineWeb-Edu's
regressor) rather than hand-written heuristics alone. The heuristic gates
live in functions/text.py (``quality_score``) and operators/lm.py (the
perplexity gate); this module adds the classifier-shaped gate:

    features  = hashed bag-of-words (portable h32 mod num_buckets — the
                "hashing trick", bounded feature space at any vocabulary)
    logit     = Σ_tokens w[bucket(token)]  +  bias
    keep      = logit > min_logit

Scoring outputs the LOGIT, not the sigmoid: the sigmoid is monotone (the
gate is identical) and ``exp`` is the one step whose last ulp differs
across libm implementations — staying linear keeps every score a
deterministic double that any sequential-fold engine reproduces, like the
rest of this repo's proof surface. Reference parity note: the reference
engine has no model-based filtering (its quality surface is metadata
filters, src/vector_db_api/services/search.py post-filters); this is a
scale extension.

Two paths, bit-identical outputs (the doc_nll twin convention, lm.py):

- :func:`score_quality_linear` — weight vector folded into the plan as an
  array literal, per-token lookup via ``element_at``; zero shuffles, whole
  plan scan-fused. Right up to ~10^5 buckets of plan size.
- :func:`score_quality_linear_join` — weights as a (bucket, weight)
  DataFrame, broadcast-joined after a posexplode; the per-doc fold re-sorts
  terms by position before summing, so the accumulation order is IDENTICAL
  to the literal fold (the lm.py doc_nll_join trick). Use for weight tables
  too large to inline, or already produced by distributed training.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_db_api_spark.functions import hashing as H
from vector_db_api_spark.functions import text as T
from vector_db_api_spark.functions import vector as V


def _tokens(text_col: str):
    return T.scoring_tokens(text_col)


def bucket_of(tok, num_buckets: int):
    """Portable feature bucket of a token column/lambda var: h32 mod D."""
    return (H.h32(tok) % F.lit(num_buckets)).cast("int")


def score_quality_linear(
    docs: DataFrame,
    weights: Sequence[float],
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, logit, keep): literal-weights scoring scan.

    Empty/null-text docs carry no features and score ``bias`` exactly —
    gate them with a length filter upstream if they must not pass."""
    w = V.const_array(weights)
    d = len(weights)
    toks = _tokens(text_col)
    terms = F.transform(toks, lambda t: F.element_at(w, bucket_of(t, d) + 1))
    logit = (
        F.coalesce(
            F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), F.lit(0.0)
        )
        + F.lit(float(bias))
    )
    return docs.select(
        F.col(id_col),
        F.coalesce(F.size(toks), F.lit(0)).alias("n_tokens"),
        logit.alias("logit"),
        (logit > 0.0).alias("keep"),
    )


def score_quality_linear_join(
    docs: DataFrame,
    weights_df: DataFrame,
    num_buckets: int,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_weights: bool = True,
    check_unique_buckets: bool = True,
) -> DataFrame:
    """Scale twin of :func:`score_quality_linear`: weights shipped as a
    (bucket int, weight double) frame. Buckets absent from ``weights_df``
    weigh 0.0 (sparse models are the norm after L1 training). Cost shape:
    one explode, one broadcast (or shuffle) join on bucket, one groupBy(id)
    — corpus-linear, nothing driver-sized.

    Precondition: ``bucket`` must be UNIQUE in ``weights_df`` — a duplicate
    bucket fans out the join and silently inflates both logit and n_tokens,
    a divergence the literal twin cannot exhibit. Enforced LAZILY inside
    the plan (a model-sized pre-aggregation whose weight column raises at
    execution on any duplicate) so composing/scoring stays job-free —
    disable with ``check_unique_buckets=False`` for pre-validated tables."""
    if check_unique_buckets:
        g = weights_df.groupBy("bucket").agg(
            F.first("weight").alias("weight"),
            F.count(F.lit(1)).alias("__c"),
        )
        weights_df = g.select(
            "bucket",
            F.when(F.col("__c") == 1, F.col("weight"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("duplicate bucket in weights_df: "),
                        F.col("bucket").cast("string"),
                    )
                )
            )
            .alias("weight"),
        )
    wdf = F.broadcast(weights_df) if broadcast_weights else weights_df
    exploded = docs.select(
        F.col(id_col), F.posexplode_outer(_tokens(text_col)).alias("__pos", "__tok")
    ).withColumn(
        "__bucket",
        F.when(
            F.col("__tok").isNotNull(), bucket_of(F.col("__tok"), num_buckets)
        ),
    )
    joined = exploded.join(wdf, exploded["__bucket"] == wdf["bucket"], "left").select(
        id_col,
        "__pos",
        F.when(
            F.col("__tok").isNotNull(), F.coalesce(F.col("weight"), F.lit(0.0))
        ).alias("__term"),
    )
    per_doc = joined.groupBy(id_col).agg(
        F.count("__term").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.filter(
                        F.collect_list(F.struct("__pos", "__term")),
                        lambda s: s["__term"].isNotNull(),
                    )
                ),
                lambda s: s["__term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__sum"),
    )
    logit = F.coalesce(F.col("__sum"), F.lit(0.0)) + F.lit(float(bias))
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        logit.alias("logit"),
        (logit > 0.0).alias("keep"),
    )


def quality_model_filter(
    docs: DataFrame,
    weights: Sequence[float],
    bias: float = 0.0,
    min_logit: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The gate itself: input rows whose logit clears ``min_logit``
    (semi-join on the scored ids, original columns untouched)."""
    kept = (
        score_quality_linear(docs, weights, bias, id_col=id_col, text_col=text_col)
        .filter(F.col("logit") > min_logit)
        .select(id_col)
    )
    return docs.join(kept, id_col, "left_semi")


def hashed_features(
    docs: DataFrame,
    num_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str | None = None,
) -> DataFrame:
    """(id[, label], features): hashed bag-of-words counts as an MLlib
    sparse vector, bucketed with the SAME portable ``bucket_of`` hash the
    scoring paths use — the property that makes fitted coefficients
    directly loadable into :func:`score_quality_linear_join` (MLlib's own
    HashingTF uses a different hash, so its models would score garbage
    through our bucket lookup). One explode + one (id, bucket) count —
    corpus-linear; the final SparseVector assembly is a plain Python UDF
    (VectorUDT doesn't ride Arrow), acceptable because it runs over the
    bounded LABELED training set, never the corpus hot path."""
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql.functions import udf

    toks = _tokens(text_col)
    base_cols = [id_col] + ([label_col] if label_col else [])
    counts = (
        docs.select(id_col, F.explode(toks).alias("__tok"))
        .withColumn("__bucket", bucket_of(F.col("__tok"), num_buckets))
        .groupBy(id_col, "__bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("__n"))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__bucket", "__n"))
            ).alias("__bn")
        )
    )
    # LEFT join back to the full doc set: token-less docs (empty/null text)
    # are legitimate training rows with an all-zero feature vector — an
    # inner explode would silently drop them and bias the intercept, while
    # the scoring paths DO score them (posexplode_outer → exactly ``bias``)
    full = docs.select(*base_cols).join(counts, id_col, "left")

    @udf(returnType=VectorUDT())
    def assemble(bn):
        if bn is None:
            return SparseVector(num_buckets, [], [])
        return SparseVector(
            num_buckets,
            [int(s["__bucket"]) for s in bn],
            [float(s["__n"]) for s in bn],
        )

    return full.select(*base_cols, assemble("__bn").alias("features"))


def train_quality_model(
    labeled_docs: DataFrame,
    num_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    reg_param: float = 1e-4,
    elastic_net: float = 0.0,
    max_iter: int = 50,
):
    """Fit the hashed linear classifier: MLlib LogisticRegression over
    :func:`hashed_features` (distributed LBFGS/OWL-QN — map-side gradient
    partials, model-sized driver state; ``elastic_net`` > 0 turns on L1 and
    yields the sparse weight tables ``score_quality_linear_join`` is built
    for). Returns ``(weights_df, bias, coef)``: the (bucket int, weight
    double) frame the join scorer consumes (zero coefficients dropped,
    absent buckets score 0.0 by contract), the fitted intercept, and the
    dense coefficient vector for the literal twin.

    The round-trip contract (pinned in tests): scoring through the fitted
    frame is bit-identical to :func:`score_quality_linear` on the dense
    coefficient vector, and the model separates a held-out split of any
    linearly separable fixture. Training itself is NOT oracle-replayable
    (treeAggregate's float reduction order is partitioning-dependent), so
    it is pytest-proven, like MLlib KMeans in ``IVFIndex.train``.
    """
    from pyspark.ml.classification import LogisticRegression

    feats = hashed_features(
        labeled_docs, num_buckets, id_col=id_col, text_col=text_col,
        label_col=label_col,
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol=label_col,
        regParam=reg_param,
        elasticNetParam=elastic_net,
        maxIter=max_iter,
        standardization=False,
    )
    model = lr.fit(feats)
    coef = model.coefficients.toArray()
    spark = labeled_docs.sparkSession
    weights_df = spark.createDataFrame(
        [(int(b), float(w)) for b, w in enumerate(coef) if w != 0.0],
        "bucket int, weight double",
    )
    return weights_df, float(model.intercept), coef


def fixed_model(num_buckets: int = 256, seed: int = 13):
    """Deterministic demo/test weights ~ N(0, 1/sqrt(D)): stands in for a
    trained classifier the way the ANN family's seeded centroids stand in
    for trained k-means — the scoring machinery is what's under proof."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal(num_buckets) / float(num_buckets) ** 0.5
