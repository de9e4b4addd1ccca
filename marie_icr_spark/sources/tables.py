"""Table loaders for the driver-generated testdata star schema.

In production these are Iceberg table scans (``spark.read.format("iceberg")``)
with partition pruning; in this sandbox they are parquet files, which share
the same pushdown behavior (``PushedFilters``/``ReadSchema`` in the plan).
Analogue of the reference's asset-key loader
(``marie/utils/docs.py:310-371`` — resolve key, optional page subset).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
