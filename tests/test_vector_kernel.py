"""Vector-kernel semantics — reference parity fixtures
(identical / orthogonal / opposite vectors, zero-vector guards, dispatch),
mirroring reference tests/unit/indexing/test_flat.py:176-198 semantics."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from vector_db_api_spark.functions import vector as V


def _eval(spark, expr):
    return spark.range(1).select(expr.alias("v")).collect()[0]["v"]


def _arr(vals):
    return V.as_double_array(F.array(*[F.lit(float(v)) for v in vals]))


def test_cosine_identical(spark):
    a = _arr([1.0, 2.0, 3.0])
    assert _eval(spark, V.cosine_similarity(a, a)) == pytest.approx(1.0)


def test_cosine_orthogonal(spark):
    assert _eval(spark, V.cosine_similarity(_arr([1, 0]), _arr([0, 1]))) == 0.0


def test_cosine_opposite(spark):
    a, b = _arr([1.0, 2.0]), _arr([-1.0, -2.0])
    assert _eval(spark, V.cosine_similarity(a, b)) == pytest.approx(-1.0)


def test_cosine_zero_vector_is_zero(spark):
    # reference: utils.py:10-15 returns 0.0 for zero-norm inputs
    assert _eval(spark, V.cosine_similarity(_arr([0, 0, 0]), _arr([1, 2, 3]))) == 0.0


def test_dot_and_norm(spark):
    assert _eval(spark, V.dot(_arr([1, 2, 3]), _arr([4, 5, 6]))) == 32.0
    assert _eval(spark, V.norm(_arr([3, 4]))) == 5.0


def test_euclidean_distance_and_similarity(spark):
    d = _eval(spark, V.euclidean_distance(_arr([1, 1]), _arr([4, 5])))
    assert d == pytest.approx(5.0)
    s = _eval(spark, V.euclidean_similarity(_arr([1, 1]), _arr([4, 5])))
    assert s == pytest.approx(1.0 / 6.0)


def test_normalize_unit_and_zero(spark):
    out = _eval(spark, V.normalize(_arr([3.0, 4.0])))
    assert out == pytest.approx([0.6, 0.8])
    assert _eval(spark, V.normalize(_arr([0.0, 0.0]))) is None


def test_argmax_first_occurrence(spark):
    assert _eval(spark, V.argmax_idx(_arr([1.0, 9.0, 9.0, 2.0]))) == 1


def test_metric_dispatch_unknown_raises():
    with pytest.raises(ValueError, match="Unknown metric"):
        V.similarity("manhattan", F.col("a"), F.col("b"))


def test_euclidean_similarity_bounds(spark):
    s = _eval(spark, V.euclidean_similarity(_arr([0, 0]), _arr([0, 0])))
    assert s == 1.0  # identical vectors → distance 0 → sim 1
    far = _eval(spark, V.euclidean_similarity(_arr([0, 0]), _arr([1000, 1000])))
    assert 0.0 < far < 0.001


def test_dots_const_matrix_bit_identical_to_column_api(spark):
    """r16: the server-side parsed dot matrix must produce the IDENTICAL
    IEEE doubles as the per-centroid Column-API loop it replaced — the
    oracle replays the same fold, so an off-by-an-ulp literal rendering
    (repr round-trip) or a reassociated fold would break hash parity.
    Exercises negative, subnormal-ish, and exponent-notation literals."""
    import numpy as np

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((5, 8))
    mat[0, 0] = -0.0
    mat[1, 1] = 1e-15
    mat[2, 2] = -3.5e5
    rows = [([float(x) for x in rng.standard_normal(8)],) for _ in range(16)]
    df = spark.createDataFrame(rows, "v array<double>").withColumn(
        "__d", V.as_double_array("v")
    )
    old_col = F.array(*[
        V.dot("__d", F.array(*[F.lit(float(x)) for x in c])) for c in mat
    ])
    got_old = [r["o"] for r in df.select(old_col.alias("o")).collect()]
    got_new = [
        r["n"] for r in
        df.select(V.dots_const_matrix("__d", mat).alias("n")).collect()
    ]
    assert got_old == got_new  # bit-exact, not approx


def test_dots_const_matrix_rejects_nonfinite(spark):
    with pytest.raises(ValueError):
        V.dots_const_matrix("__d", [[1.0, float("inf")]])


def test_dots_const_matrix_rejects_backtick_in_column_name():
    with pytest.raises(ValueError):
        V.dots_const_matrix("a`) + 1 + (`b", [[1.0, 2.0]])


def test_dots_const_matrix_empty_matrix_is_empty_double_array(spark):
    import numpy as np

    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    for mat in ([], np.zeros((0, 2))):
        out = df.select(V.dots_const_matrix("v", mat).alias("d"))
        assert out.schema["d"].dataType.simpleString() == "array<double>"
        assert out.collect()[0]["d"] == []


def test_const_array_bit_identical_to_per_element_literals(spark):
    """The query literal is one parsed expression; each element must be
    the double ``F.lit(float(x))`` gives, down to the sign of zero, the
    smallest subnormal and the largest finite values."""
    import struct

    vals = [-0.0, 0.0, 5e-324, -5e-324, 1e-07, 2.5e-310, 1.7e308, -1.7e308,
            1.7976931348623157e308, 1e16, 0.1, -3.5e5, 123456789.123]
    old = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("a")).first()["a"]
    new = spark.range(1).select(V.const_array(vals).alias("a")).first()["a"]

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    assert bits(new) == bits(old) == bits(vals)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_const_array_rejects_nonfinite(bad):
    with pytest.raises(ValueError):
        V.const_array([1.0, bad])
