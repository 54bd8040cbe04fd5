"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment as well:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting mean a
  single static ``spark.sql.shuffle.partitions`` works at any SF.
- Arrow on: every Pandas-UDF boundary (LSH signatures, embedding kernels)
  moves data in columnar batches instead of pickled rows.
- Broadcast threshold left at default (10 MB) — dimension tables (region,
  nation, supplier, query batches, IVF centroids) broadcast automatically;
  large-side joins shuffle on their keys.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "vector_db_api_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit provide it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    # spark.driver.memory must reach the JVM BEFORE it launches; a builder
    # .config() is a no-op for an in-process driver. Inject it through
    # PYSPARK_SUBMIT_ARGS, which the Py4J gateway reads at JVM start. If the
    # JVM is already up this (correctly) has no effect.
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {driver_mem} pyspark-shell"
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's synthetic parquet stores TIMESTAMP(NANOS), which Spark
        # rejects by default; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame over ``rows`` held in Python (tuples in ``schema``'s field
    order; a struct value is a dict), planned as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` pickles the rows into a Python RDD,
    so every job that reads them starts Python workers, even for one row.
    Built from an Arrow table, the rows are copied into the JVM once and
    broadcasting, collecting or scanning them needs no Python worker and
    often no job at all. A ``pa.Table`` is passed, never a pandas frame:
    pandas input falls back to the pickled path when Arrow conversion fails
    (``arrow.pyspark.fallback.enabled``); an Arrow table never does.

    Values are not type-checked the way ``createDataFrame(<list>)``
    checks them: Arrow converts a float to an int column by truncation.
    Callers taking rows from a client validate them first."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)
