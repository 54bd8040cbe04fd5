"""``session.local_frame``: rows held in Python as a JVM ``LocalRelation``.

The helper must build the frame ``createDataFrame(<list>)`` builds — same
schema, same rows, float32 embeddings bit for bit — without the pickled
Python RDD behind it, and the serving layers must not drift back to the
pickled path.
"""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest

from vector_db_api_spark.session import local_frame

CHUNK_DDL = (
    "id string, position int, text string, embedding array<float>, "
    "metadata struct<author:string,tags:array<string>,page_number:int>"
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "vector_db_api_spark"
#: the serving layers whose in-process rows must stay local relations
SERVING_FILES = sorted(
    [*(PKG / "api").glob("*.py"), PKG / "lifecycle.py", PKG / "sources" / "store.py",
     *(PKG / "operators" / f"{m}.py" for m in ("knn", "lsh", "ivf"))]
)


def _rows() -> list[tuple]:
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((3, 6)).astype(np.float32)
    return [
        ("a", 0, "plain", [float(x) for x in vecs[0]],
         {"author": "ann", "tags": ["x", "y"], "page_number": 2}),
        ("b", 1, "ünïcødé — 日本語 🙂", None,
         {"author": None, "tags": [], "page_number": None}),
        ("c", None, "partial struct", [float(x) for x in vecs[1]],
         {"page_number": 7}),
        ("d", 3, "edge floats", [0.1, -0.0, float("inf"), 1e-40, 3.4e38, 1.0],
         {"author": "cy", "tags": ["z", None], "page_number": -1}),
        ("e", 4, "no metadata", [float(x) for x in vecs[2]], None),
    ]


def _sorted(df):
    return sorted(df.collect(), key=lambda r: r["id"])


def test_local_frame_equals_create_dataframe(spark):
    rows = _rows()
    got = local_frame(spark, rows, CHUNK_DDL)
    want = spark.createDataFrame(rows, CHUNK_DDL)
    assert got.schema == want.schema
    g, w = _sorted(got), _sorted(want)
    assert g == w
    for a, b in zip(g, w):
        if b["embedding"] is None:
            assert a["embedding"] is None
            continue
        bits_a = np.asarray(a["embedding"], dtype=np.float32).view(np.uint32)
        bits_b = np.asarray(b["embedding"], dtype=np.float32).view(np.uint32)
        assert (bits_a == bits_b).all(), a["id"]


def test_local_frame_zero_rows(spark):
    got = local_frame(spark, [], CHUNK_DDL)
    assert got.schema == spark.createDataFrame([], CHUNK_DDL).schema
    assert got.collect() == []


def test_local_frame_takes_a_struct_type(spark):
    want = spark.createDataFrame(_rows(), CHUNK_DDL)
    got = local_frame(spark, _rows(), want.schema)
    assert got.schema == want.schema and _sorted(got) == _sorted(want)


@pytest.mark.parametrize("n", [0, 1, 5])
def test_local_frame_plans_a_local_relation(spark, n):
    df = local_frame(spark, _rows()[:n], CHUNK_DDL)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()


def _create_dataframe_calls(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_serving_layers_build_no_pickled_frames():
    """Rows held in Python by the serving layers go through ``local_frame``:
    ``createDataFrame(<list>)`` there would put a pickled Python RDD under
    every job that reads the rows."""
    assert len(SERVING_FILES) >= 8
    found = {
        str(p.relative_to(PKG)): lines
        for p in SERVING_FILES
        if (lines := _create_dataframe_calls(p))
    }
    assert not found, f"createDataFrame calls (use session.local_frame): {found}"
