"""Property-based tests (hypothesis): the vector kernel against a Python
reference fold, metric invariants, and minhash/jaccard structure.

Examples are bounded (few, small) so the Spark round-trips stay fast; the
point is randomized coverage of algebraic invariants the example-based
tests can't sweep.
"""

from __future__ import annotations

import math
import struct
import sys

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from vector_db_api_spark.functions import hashing as H
from vector_db_api_spark.functions import vector as V
from vector_db_api_spark.operators.knn import knn, knn_scores, top_k_order
from vector_db_api_spark.session import local_frame

FINITE = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False
)
VEC = st.lists(FINITE, min_size=1, max_size=8)
SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_cosine(a, b):
    def fold_dot(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc

    na, nb = math.sqrt(fold_dot(a, a)), math.sqrt(fold_dot(b, b))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return fold_dot(a, b) / (na * nb)


def _eval(spark, expr):
    return spark.range(1).select(expr.alias("v")).collect()[0]["v"]


def _arr(vals):
    return V.as_double_array(F.array(*[F.lit(float(v)) for v in vals]))


@SLOW
@given(st.tuples(VEC, VEC))
def test_cosine_matches_python_fold(spark, ab):
    a, b = ab
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    got = _eval(spark, V.cosine_similarity(_arr(a), _arr(b)))
    assert got == _py_cosine(a, b)  # bit-exact, same fold order


@SLOW
@given(VEC)
def test_cosine_self_is_one_or_zero(spark, a):
    got = _eval(spark, V.cosine_similarity(_arr(a), _arr(a)))
    # norm, not component zero-ness, decides the branch: tiny subnormals
    # square-underflow to a zero norm and legitimately take the 0.0 guard
    if math.sqrt(sum(x * x for x in a)) == 0.0:
        assert got == 0.0
    else:
        assert got == pytest.approx(1.0, abs=1e-9)


@SLOW
@given(st.tuples(VEC, VEC))
def test_metric_symmetry(spark, ab):
    a, b = ab
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    for metric in ("cosine", "euclidean", "dot_product"):
        x = _eval(spark, V.similarity(metric, _arr(a), _arr(b)))
        y = _eval(spark, V.similarity(metric, _arr(b), _arr(a)))
        assert x == pytest.approx(y, rel=1e-12), metric


@SLOW
@given(VEC)
def test_normalize_is_unit_norm(spark, a):
    out = _eval(spark, V.normalize(_arr(a)))
    sq = sum(x * x for x in a)
    if math.sqrt(sq) == 0.0:  # incl. squared underflow
        assert out is None
    else:
        # when the squared sum is subnormal (components ~1e-158 and below),
        # sqrt works on a reduced mantissa and x/n legitimately drifts past
        # 1e-9; the reference kernel (utils.py:32-37) has the identical
        # behavior, so the property relaxes there instead of masking it
        tol = 1e-9 if sq >= sys.float_info.min else 1e-6
        assert math.sqrt(sum(x * x for x in out)) == pytest.approx(1.0, abs=tol)


@given(st.integers(min_value=1, max_value=64), st.integers(min_value=0, max_value=2**31))
@settings(max_examples=50, deadline=None)
def test_minhash_params_in_range(n, seed):
    for a, b in H.minhash_params(n, seed):
        assert 1 <= a < 1 << 31 and 0 <= b < 1 << 31
        # (a*x + b) % p never overflows int64 for x < 2^32
        assert a * ((1 << 32) - 1) + b < (1 << 63)


@SLOW
@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=30), min_size=1, max_size=4))
def test_minhash_distinct_invariance(spark, texts):
    """min over multiset == min over set: signatures computed with and
    without the distinct shuffle are identical."""
    from vector_db_api_spark.operators.dedup import shingle_hashes
    from vector_db_api_spark.functions.hashing import minhash_agg_exprs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    with_d = (
        shingle_hashes(docs, distinct=True)
        .groupBy("doc_id").agg(*minhash_agg_exprs(4, "shingle_hash")).collect()
    )
    without_d = (
        shingle_hashes(docs, distinct=False)
        .groupBy("doc_id").agg(*minhash_agg_exprs(4, "shingle_hash")).collect()
    )
    assert sorted(map(tuple, with_d)) == sorted(map(tuple, without_d))


EDGE_LISTS = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@given(edges=EDGE_LISTS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_match_union_find(spark, edges):
    """Distributed min-label propagation must agree with a sequential
    union-find on arbitrary random graphs."""
    from vector_db_api_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    # same node set, identical min-id component labels
    assert got == want


CORPUS = st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=40), min_size=2, max_size=6
)


@given(texts=CORPUS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bm25_matches_python_reference(spark, texts):
    """bm25_scores against an independent pure-Python BM25 on random
    corpora (same tokenizer: lowercase, whitespace, collapse runs)."""
    import math

    from vector_db_api_spark.operators.keyword import bm25_scores

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    query = "a ab b"
    terms = ["a", "ab", "b"]

    # exact tokenizer twin: normalize (trim+lower+collapse) then split;
    # token_count is 0 for empty normalized text while the token LIST of
    # "" is [""] (word_occurrences never matches "" against a real term)
    norm = [" ".join(t.lower().split()) for t in texts]
    toks = [nm.split(" ") for nm in norm]
    dls = [0 if nm == "" else len(tk) for nm, tk in zip(norm, toks)]
    n = len(toks)
    tdl = sum(dls)
    want = {}
    for i, tk in enumerate(toks):
        if tdl == 0:
            break  # all-empty corpus: no term can match anywhere
        s = 0.0
        anytf = 0
        for term in terms:
            tf = tk.count(term)
            anytf += tf
            df = sum(1 for other in toks if term in other)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            s = s + idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dls[i] * n / tdl))
        if anytf > 0:
            want[i] = s
    got = {r["doc_id"]: r["score"] for r in bm25_scores(docs, query).collect()}
    assert set(got) == set(want)
    for i in want:
        assert got[i] == want[i]  # identical op order -> bit-equal


@given(perm_seed=st.integers(0, 1000))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rrf_input_order_invariance(spark, perm_seed):
    """rrf_fuse output depends only on (id, score) SETS, not row order."""
    import random

    from vector_db_api_spark.operators.hybrid import rrf_fuse

    rows_a = [(i, float(100 - i)) for i in range(8)]
    rows_b = [(i + 4, float(50 - i)) for i in range(8)]
    rng = random.Random(perm_seed)
    pa, pb = rows_a[:], rows_b[:]
    rng.shuffle(pa)
    rng.shuffle(pb)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, score double")
    base = sorted(map(tuple, rrf_fuse(mk(rows_a), mk(rows_b), k=12).collect()))
    perm = sorted(map(tuple, rrf_fuse(mk(pa), mk(pb), k=12).collect()))
    assert base == perm


@SLOW
@given(
    st.lists(st.integers(min_value=0, max_value=5000), min_size=0, max_size=200),
    st.integers(min_value=2, max_value=4),
)
def test_kmv_merge_equals_whole_for_any_partition(spark, values, nparts):
    """CRDT law, fuzzed: for ANY multiset of values and ANY way of slicing
    it (here: round-robin with duplicates straddling slices), merging the
    per-slice KMV states equals the single-pass state over the whole."""
    from vector_db_api_spark.operators.sketches import kmv_merge_states, kmv_state

    k = 16
    whole_df = spark.createDataFrame(
        [("g", v) for v in values] or [("g", None)], "g string, v long"
    )
    whole = kmv_state(whole_df, ["g"], "v", k=k).collect()
    slices = [values[i::nparts] for i in range(nparts)]
    states = None
    for sl in slices:
        if not sl:
            continue
        sdf = kmv_state(
            spark.createDataFrame([("g", v) for v in sl], "g string, v long"),
            ["g"], "v", k=k,
        )
        states = sdf if states is None else states.union(sdf)
    if states is None:
        assert whole == []
        return
    merged = kmv_merge_states(states, ["g"], k=k).collect()
    assert [r["kmin"] for r in merged] == [r["kmin"] for r in whole]


# stored embeddings are float32; zero rows and repeated rows are drawn often
F32 = st.floats(min_value=-1e3, max_value=1e3, width=32)
ROW3 = st.one_of(st.just([0.0, 0.0, 0.0]), st.just([1.0, -2.0, 0.5]),
                 st.lists(F32, min_size=3, max_size=3))


@SLOW
@given(mat=st.lists(ROW3, min_size=1, max_size=12),
       q=st.one_of(st.just([0.0, 0.0, 0.0]), st.lists(FINITE, min_size=3, max_size=3)),
       metric=st.sampled_from(V.METRICS), k=st.integers(1, 14))
def test_driver_knn_equals_spark_knn(spark, mat, q, metric, k):
    """The driver-side re-rank — ``knn_scores`` then ``top_k_order`` —
    returns ``knn``'s ids in its order, with the same score bits."""
    ids = [f"r{i:02d}" for i in range(len(mat))]
    frame = local_frame(spark, list(zip(ids, mat)), "id string, embedding array<float>")
    want = [(r["id"], struct.pack(">d", r["score"]))
            for r in knn(frame, q, k, metric=metric).collect()]
    scores = knn_scores(np.asarray(mat, dtype=np.float32), q, metric)
    got = [(ids[j], struct.pack(">d", scores[j])) for j in top_k_order(scores, ids, k)]
    assert got == want
