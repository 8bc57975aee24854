"""SparkSession construction tuned for the local[] harness.

The same settings are the ones we would set cluster-side at 100 TB: AQE on
(runtime coalescing + skew-join handling), UTC session timezone (parquet
timestamps are UTC instants; the DuckDB oracle is UTC-naive), Arrow for any
pandas exchange, and shuffle partitions sized to the parallelism at hand
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-level settings that are safe (and necessary) to apply to an
# externally-provided SparkSession at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by default;
    # read as raw nanos and normalize in tables.load (DuckDB truncates to µs).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (e.g. the driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave as-is
    return spark


def get_spark(app_name: str = "thymeflow-back-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Tungsten pages of 1 MB instead of the heap-derived default (16 MB
        # on a 2 GB driver): every hash aggregate, sort and broadcast hash
        # relation allocates at least one page, however few rows it holds,
        # and pages that large are humongous objects for G1. Small
        # interactive queries then fill the old generation with garbage.
        .config("spark.buffer.pageSize", "1m")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
