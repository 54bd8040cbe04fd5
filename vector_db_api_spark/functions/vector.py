"""Vector kernel: similarity metrics as Spark Column expressions.

Parity with the reference's scalar kernel (``src/vector_db_api/indexing/utils.py:4-56``):
dot / norm / cosine (0 for zero-vectors) / euclidean distance /
euclidean similarity 1/(1+d) / dot-product similarity / normalize
(null for zero-vectors) / metric dispatch (ValueError on unknown metric).

Everything is expressed with SQL higher-order functions (``zip_with`` +
``aggregate`` = a sequential left fold over doubles), so the whole kernel:

- runs JVM-side inside whole-stage codegen — no Python in the hot path;
- is bit-reproducible against any engine that folds left-to-right over
  doubles (the DuckDB correctness oracle does);
- needs no UDF registration and composes with Catalyst pushdown/pruning.

For very wide vectors or throughput-bound batch jobs there is an
Arrow-vectorized numpy path in ``operators/knn.py`` (mapInPandas matmul);
the expressions here are the semantic ground truth.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

METRICS = ("cosine", "euclidean", "dot_product")


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double_array(col: ColumnOrName) -> Column:
    """Cast array<float> → array<double> elementwise (deterministic widening)."""
    return F.transform(_c(col), lambda x: x.cast("double"))


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sequential-fold dot product. Ref: indexing/utils.py:4-5."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: ColumnOrName) -> Column:
    """L2 norm. Ref: indexing/utils.py:7-8."""
    return F.sqrt(F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm.

    Ref: indexing/utils.py:10-15.
    """
    na, nb = norm(a), norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def euclidean_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """L2 distance. Ref: indexing/utils.py:17-21 (dim mismatch raises there;
    here mismatched zip_with pads with null and the fold yields null, which
    callers may assert on via ``size(a) == size(b)`` filters)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def euclidean_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """1 / (1 + distance) ∈ (0, 1]. Ref: indexing/utils.py:23-26."""
    return F.lit(1.0) / (F.lit(1.0) + euclidean_distance(a, b))


def dot_product_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Raw dot product as a similarity. Ref: indexing/utils.py:28-30."""
    return dot(a, b)


def normalize(a: ColumnOrName) -> Column:
    """Unit-normalize; NULL for zero vectors (reference returns None).

    Ref: indexing/utils.py:32-37.
    """
    n = norm(a)
    return F.when(n == 0.0, F.lit(None)).otherwise(
        F.transform(_c(a), lambda x: x / n)
    )


def argmax_idx(a: ColumnOrName) -> Column:
    """0-based index of the max element (first occurrence).

    Ref: indexing/utils.py:39-44.
    """
    return (F.array_position(_c(a), F.array_max(_c(a))) - 1).cast("int")


def similarity(metric: str, a: ColumnOrName, b: ColumnOrName) -> Column:
    """Metric dispatch. Ref: indexing/utils.py:46-56 (ValueError on unknown)."""
    if metric == "cosine":
        return cosine_similarity(a, b)
    if metric == "euclidean":
        return euclidean_similarity(a, b)
    if metric == "dot_product":
        return dot_product_similarity(a, b)
    raise ValueError(f"Unknown metric: {metric!r}; expected one of {METRICS}")


def _double_sql(x) -> str:
    """A SQL double literal with the exact bits of the Python float:
    ``repr`` is the shortest round-trip decimal and Spark's parser
    (Java ``parseDouble``) is correctly rounded, so the parsed double is
    bit-identical to ``F.lit(float(x))``."""
    f = float(x)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite constant in expression matrix: {x!r}")
    return repr(f) + "D"


def const_array(values) -> Column:
    """``array<double>`` of constant ``values``, built as ONE parsed
    expression: the same doubles as ``F.array(*[F.lit(float(x)) ...])``
    (see :func:`_double_sql`), in 3 py4j calls instead of about four per
    element (263 calls at d=64, 3,079 at d=768). Non-finite values are
    rejected. No values give ``F.array()``, as the per-element build
    did."""
    if len(values) == 0:
        return F.array()
    return F.expr("array(%s)" % ",".join(_double_sql(x) for x in values))


def dots_const_matrix(col_name: str, matrix) -> Column:
    """``array<double>`` of sequential-fold dots of column ``col_name``
    with each ROW of a constant matrix — the same values as
    ``F.array(*[dot(col, lit_row) for row in matrix])`` (one left fold
    per row, bit-identical), built as ONE server-side expression.

    Why (r16, guide §7.3 "very large plans"): building a K×d literal
    tree through the Python Column API costs K·d py4j round-trips at
    query CONSTRUCTION time — measured ~2s per query for K=32, d=64,
    which dominated every multiprobe expression twin's bench wall (the
    execution itself was ~0.2s). A single parsed SQL string moves the
    whole tree to the JVM in one call, and the shared ``transform``
    lambda keeps the analyzed tree ~K× smaller than K separate
    aggregate subtrees.

    ``col_name`` is spliced into the SQL between backticks, so a name that
    contains one is rejected rather than escaped. K = 0 gives an empty
    ``array<double>``: ``transform`` over an empty literal array would type
    its element as void and fail analysis."""
    if "`" in col_name:
        raise ValueError(f"backtick in column name: {col_name!r}")
    if len(matrix) == 0:
        return F.array().cast("array<double>")
    mat_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(_double_sql(x) for x in row) for row in matrix
    )
    return F.expr(
        f"transform({mat_sql}, c_ -> aggregate("
        f"zip_with(`{col_name}`, c_, (x_, y_) -> x_ * y_), "
        f"0.0D, (acc_, x_) -> acc_ + x_))"
    )


def const_norm(qvec) -> float:
    """The query norm as the IDENTICAL IEEE double the Spark fold would
    produce: Python's left-to-right ``acc += x*x`` is the same operation
    sequence as ``aggregate(a, 0.0, (acc, x) -> acc + x*x)``, and
    ``math.sqrt`` is the same correctly-rounded sqrt."""
    import math

    acc = 0.0
    for x in qvec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def cosine_similarity_const(vec: ColumnOrName, qvec) -> Column:
    """Cosine against a CONSTANT query vector with the query norm folded at
    plan time — per row only dot + norm(vec) evaluate (the naive expression
    re-aggregates the constant query's norm for every corpus row). Bit-
    identical to ``cosine_similarity(vec, lit(qvec))`` by construction."""
    qn = const_norm(qvec)
    if qn == 0.0:
        return F.lit(0.0)  # zero query → 0 for every row (utils.py:10-15)
    e = _c(vec)
    q = const_array(qvec)
    ne = norm(e)
    return F.when(ne == 0.0, F.lit(0.0)).otherwise(dot(e, q) / (ne * F.lit(qn)))


def similarity_const(metric: str, vec: ColumnOrName, qvec) -> Column:
    """Metric dispatch against a constant query (driver-known vector)."""
    if metric == "cosine":
        return cosine_similarity_const(vec, qvec)
    return similarity(metric, vec, const_array(qvec))
