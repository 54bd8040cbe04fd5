"""Measure both sides of ``Engine.search``'s driver/Spark choice at its bound.

A flat or IVF library is searched on the driver, from a held snapshot of
its chunks partition (``EntityStore.partition_rows``), when the partition
counts at most ``bloom.MAX_DRIVER_IDS`` rows and the snapshot fits
``store.SNAPSHOT_BYTES``; every other search is planned on Spark. This
harness builds one library of ``n`` chunks of dim ``d`` per shape (the
chunks partition written straight through ``EntityStore.write_partitions``,
each vector a deterministic hash of its row and element) and times, as the
median of ``REPEAT`` searches each:

- spark: a warm search with the driver path off (``SNAPSHOT_BYTES = -1``);
- load: a search whose snapshot is not held, so it reads the partition to
  the driver (the held snapshots cleared first). This is what every search
  pays when snapshots are evicted before they are used again;
- hit: a warm search from the held snapshot.

The driver side is measured with both bounds lifted, so shapes past them
show what the bounds keep out. Each row also gives the Spark jobs of one
search on each side and the snapshot's ``nbytes()``.

Usage: ``python tools/snapshot_crossover.py [n:d ...]`` (default 2000:64
10000:64 10000:768 10000:1536 40000:64 10000:3072). Prints one markdown
table row per shape and index type.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_db_api_spark.api.service import Engine
from vector_db_api_spark.lifecycle import IndexConfig
from vector_db_api_spark.session import get_spark, local_frame
from vector_db_api_spark.sources import bloom as B
from vector_db_api_spark.sources import store as S

REPEAT = 7
K = 10


def _chunks(spark, lib: str, n: int, d: int):
    meta = local_frame(spark, [], S.CHUNKS_DDL).schema["metadata"].dataType
    emb = (f"transform(sequence(1, {d}), "
           f"j -> cast((hash(id, j) % 1000) / 1000.0 as float))")
    return spark.range(n).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("id"),
        F.lit(lib).alias("library_id"),
        F.lit("d0").alias("document_id"),
        F.col("id").cast("int").alias("position"),
        F.concat(F.lit("chunk c"), F.col("id").cast("string")).alias("text"),
        F.expr(emb).alias("embedding"),
        F.lit(None).cast(meta).alias("metadata"),
        F.current_timestamp().alias("created_at"),
        F.current_timestamp().alias("updated_at"),
        F.lit(1).alias("version"),
    )


def _timed(spark, eng: Engine, lib: str, q: list, before=None) -> tuple[float, int]:
    """Median wall ms of REPEAT searches, and the jobs of the last one."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    ms = []
    for _ in range(REPEAT):
        if before is not None:
            before()
        job0 = int(dag.nextJobId())
        t = time.perf_counter()
        eng.search(lib, q, k=K)
        ms.append(1e3 * (time.perf_counter() - t))
        jobs = int(dag.nextJobId()) - job0
    return statistics.median(ms), jobs


def measure(spark, root: str, n: int, d: int, kind: str) -> str:
    eng = Engine(spark, root)
    lib = f"{kind}_{n}_{d}"
    eng.create_library(lib, d, IndexConfig(type=kind), library_id=lib)
    eng.store.write_partitions("chunks", _chunks(spark, lib, n, d), [lib])
    if kind != "flat":
        eng.rebuild_index(lib)
    row = _chunks(spark, lib, 1, d).select("embedding").first()
    q = [float(x) + 0.01 for x in row[0]]
    S.SNAPSHOT_BYTES = -1
    eng.search(lib, q, k=K)  # warm the Spark path
    spark_ms, spark_jobs = _timed(spark, eng, lib, q)
    S.SNAPSHOT_BYTES = 1 << 40  # the driver side past its bounds too
    eng.search(lib, q, k=K)  # warm the driver path (posting ids, model)
    load_ms, load_jobs = _timed(spark, eng, lib, q, before=eng.store._rows.clear)
    hit_ms, hit_jobs = _timed(spark, eng, lib, q)
    snap, _ = eng.store.partition_rows("chunks", lib, d)
    mib = snap.nbytes() / 2**20
    return (f"| {n:,} | {d} | {kind} | {spark_ms:.0f} ({spark_jobs}) "
            f"| {load_ms:.0f} ({load_jobs}) | {hit_ms:.1f} ({hit_jobs}) | {mib:.1f} |")


def main() -> None:
    shapes = [tuple(map(int, a.split(":"))) for a in sys.argv[1:]] or [
        (2000, 64), (10_000, 64), (10_000, 768), (10_000, 1536), (40_000, 64),
        (10_000, 3072)]
    spark = get_spark()
    B.MAX_DRIVER_IDS = max(n for n, _ in shapes)
    spark.sparkContext.setLogLevel("ERROR")
    print("| n | d | index | spark ms (jobs) | load ms (jobs) | hit ms (jobs) "
          "| snapshot MiB |")
    print("|---|---|---|---|---|---|---|")
    for n, d in shapes:
        for kind in ("flat", "ivf"):
            root = tempfile.mkdtemp(prefix="snapshot_crossover_")
            try:
                print(measure(spark, root, n, d, kind), flush=True)
            finally:
                shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
