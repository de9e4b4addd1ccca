"""Lineage audit log: the ``_lineage`` schema and the helpers around it.

Every commit of the manifest-swap catalog (:mod:`.manifest`) appends one
lineage row per committed manifest entry (:func:`append_lineage`), carrying
(run_id, source snapshot fingerprint, partition content hash, turn/span
counts, status, ts) — the FIXTURES.md §4 ``_lineage`` schema. It rebuilds
the reference's resume bookkeeping — content-addressed idempotence keys
(``hash_frames_fast``, ``marie/utils/image_utils.py:136-149``) and the job
state machine ``created → active → completed/failed``
(``marie/scheduler/state.py:4-43``).

The manifest is the visibility authority; these rows are the audit trail a
reader checks committed partitions against (``read_lineage``). Rows are
appended before the manifest swap, so a crash can leave an audit row for a
unit that never became visible; the rerun re-commits that bucket with the
same deterministic content.

Audit rows are driver-written like the manifest: the rows already live on
the driver, so each commit unit writes them as one pyarrow parquet file
(temp name, fsync, rename) — no Spark job and no Python worker per commit.
Spark reads the directory as one table; files written by the earlier Spark
appender read back the same.

This module also holds what the writers share: the one bucket layout
(``with_bucket``), the order-insensitive source fingerprint, and the empty
results frame.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import arrow_table, local_frame

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("source_snapshot_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("partition_hash", T.StringType()),
        T.StructField("turn_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)

STATUS_COMPLETED = "completed"


class SimulatedFailure(RuntimeError):
    """Raised by the fault-injection hook in tests (mid-run kill)."""


def _lineage_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_lineage")


EMPTY_BUCKET_HASH = "0"


def _empty_results_frame(spark: SparkSession) -> DataFrame:
    from ..operators.extraction import EXTRACTED_SCHEMA

    schema = T.StructType(
        list(EXTRACTED_SCHEMA.fields) + [T.StructField("bucket", T.IntegerType())]
    )
    return local_frame(spark, [], schema)


def with_bucket(df: DataFrame, n_buckets: int, key_col: str = "conv_id") -> DataFrame:
    """The catalog's one bucket layout: ``pmod(xxhash64(key), n_buckets)``."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


def source_fingerprint(df: DataFrame, key_cols: tuple[str, ...] = ("conv_id", "turn_idx")) -> str:
    """Order-insensitive bit_xor content fingerprint of the input keys (the
    plain-parquet stand-in for an Iceberg source snapshot id)."""
    row = df.agg(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in key_cols])).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    """Lineage rows, deduplicated on (run_id, source_snapshot_id, bucket):
    crash-replayed appends (streaming foreachBatch reruns, resumed batch
    jobs) may physically duplicate a row; all fields except committed_at are
    deterministic, so read-side dedup presents exactly-once lineage. A
    catalog that never committed has no ``_lineage`` dir and reads empty; any
    other read error (a corrupt audit file) is raised."""
    path = _lineage_dir(output_dir)
    if not os.path.isdir(path):
        return local_frame(spark, [], LINEAGE_SCHEMA)
    df = spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    return df.dropDuplicates(["run_id", "source_snapshot_id", "bucket"])


def append_lineage(
    spark: SparkSession, output_dir: str, run_id: str, entries: dict
) -> None:
    """Append one ``completed`` audit row per manifest entry of a commit
    unit (``{key: entry}``, keys ``"<bucket>"`` or ``"<epoch>/<bucket>"``).
    Every row carries the committing writer's ``run_id`` — also for a
    tombstone entry, whose manifest ``run_id`` is None — and one
    ``committed_at`` per call.

    Written from the driver as one parquet file: complete and fsynced under
    a hidden temp name (``.part-*.tmp``, which Spark readers skip), then
    renamed into place, so a crash never leaves a half-visible file. Empty
    ``entries`` write nothing."""
    if not entries:
        return
    now = datetime.now(timezone.utc)
    rows = [
        (
            run_id,
            e["snapshot"],
            int(k.split("/")[-1]),
            e["partition_hash"],
            e["turn_count"],
            e["span_count"],
            STATUS_COMPLETED,
            now,
        )
        for k, e in entries.items()
    ]
    ldir = _lineage_dir(output_dir)
    os.makedirs(ldir, exist_ok=True)
    name = f"part-{run_id}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(ldir, f".{name}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(arrow_table(rows, LINEAGE_SCHEMA), f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(ldir, name))
