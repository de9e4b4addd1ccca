"""SparkSession factory with the engine's tuned defaults.

Designed for a 1000-executor cluster reading 100 TB (AQE on, sane shuffle
sizing, Arrow batching tuned for payload extraction) while remaining correct
on local[N] for tests. The Arrow batch size plays the role of the reference's
GPU-memory-scaled inference batch (marie/document/trocr_ocr_processor.py:251-331):
payloads are KB-sized strings, so 2k rows/batch keeps Arrow buffers ~MBs.

It also holds the one idiom for small frames built from driver-side rows
(:func:`local_frame`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ARROW_BATCH_ROWS = 8192


def build_session(
    app_name: str = "marie-icr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def arrow_table(rows, schema: T.StructType):
    """Driver-side ``rows`` (tuples in ``schema`` field order) as a
    ``pa.Table`` whose schema is ``to_arrow_schema(schema)``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """A frame of a few driver-side ``rows`` (tuples in ``schema`` field
    order). The rows travel as one Arrow table, so the plan is a
    ``LocalTableScan``: no Python RDD, hence no Python task per partition
    when the frame is consumed (``createDataFrame(list)`` launches a stage of
    ``defaultParallelism`` Python tasks, even for zero rows)."""
    return spark.createDataFrame(arrow_table(rows, schema), schema=schema)
