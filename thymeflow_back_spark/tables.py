"""Parquet table loading for the driver-generated synthetic schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. Filters/projections applied by callers reach the
parquet scan via Catalyst pushdown — load() does no eager work.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyspark.sql import DataFrame, SparkSession

from .session import tune

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}")
    tune(spark)  # make timezone/AQE deterministic even on the driver's session
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Nano-precision timestamps: Spark ≤4.0 delivers raw-nanos BIGINT under
    # spark.sql.legacy.parquet.nanosAsLong; Spark 4.1+ ignores that conf and
    # reads TIMESTAMP(NANOS) as TIMESTAMP_NTZ (already µs-truncated, exactly
    # what DuckDB does on read). Normalize both arrivals to a UTC-instant
    # TIMESTAMP so downstream unix_micros()/window math sees one type.
    # (tune() pinned the session timezone to UTC, so the NTZ→TZ cast is an
    # exact micros-preserving reinterpretation.)
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
