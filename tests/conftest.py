"""Shared Spark session + synthetic fixtures for the engine's unit layer.

Mirrors the reference's test strategy (SURVEY.md §5) with the additions it
lacked: DuckDB/numpy oracles, recall@k bounds for the ANN paths, and
property-style top-k checks.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pytest

from vector_db_api_spark.session import get_spark
from vector_db_api_spark.sources import store as S

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clustered_vectors():
    """(ids, vectors, labels): 20 well-separated cluster centers with 25
    tightly-packed members each — the structure ANN indexes are built for.
    Deterministic (seed 11)."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((20, 32)) * 10.0
    vecs, labels = [], []
    for ci, c in enumerate(centers):
        members = c[None, :] + rng.standard_normal((25, 32)) * 0.05
        vecs.append(members)
        labels += [ci] * 25
    mat = np.vstack(vecs)
    return list(range(len(mat))), mat, labels


@pytest.fixture(scope="session")
def clustered_df(spark, clustered_vectors):
    ids, mat, labels = clustered_vectors
    rows = [
        (int(i), [float(x) for x in mat[i]], int(labels[i])) for i in ids
    ]
    return spark.createDataFrame(
        rows, "id bigint, embedding array<float>, label int"
    ).cache()


@pytest.fixture
def on_spark():
    """A context manager under which every ``Engine.search`` is planned on
    Spark: no partition fits a snapshot budget of -1 bytes, so none is
    searched on the driver (``EntityStore.partition_rows``)."""
    @contextmanager
    def spark_path():
        saved, S.SNAPSHOT_BYTES = S.SNAPSHOT_BYTES, -1
        try:
            yield
        finally:
            S.SNAPSHOT_BYTES = saved

    return spark_path
