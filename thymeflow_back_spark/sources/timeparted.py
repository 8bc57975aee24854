"""Date-partitioned derived layouts: row-group skipping for time predicates.

The driver's parquet stores its date columns as TIMESTAMP(NANOS, ntz)
(o_orderdate, l_shipdate at nanos in some generators). Spark reads NANOS
as ``timestamp_ntz`` — and its parquet DataSource does NOT push ntz range
predicates down (they surface only as DataFilters, never PushedFilters;
verified on q_regional_revenue's orders scan, round 6), so no row-group
min/max skipping happens: at 100 TB a two-year predicate on the time
dimension still READS every row group, filtering rows after decode.

The engine-level answer is the same idiom as the streaming IVF index's
cell-partitioned base (streaming/ivf_stream.py): pay one full scan to materialize a DERIVED layout
partitioned by a calendar bucket of the timestamp, after which every
time-ranged query prunes whole partition DIRECTORIES at planning time —
``.explain`` shows the range on the partition column under
``PartitionFilters``, and unselected months are never opened (stronger
than row-group skipping: no footer reads either). Monthly granularity
keeps directory counts sane at 100 TB (a 25-year corpus is 300
directories; daily would be 9 000 — still fine for one table, but month
is the default because partition-count explosions, not data size, are
what kill wide time layouts).

Determinism: the partition value is ``date_format(ts, fmt)`` of the NTZ
timestamp — a pure calendar projection with no timezone involved, so the
layout and every query over it are engine- and session-tz-independent.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load

MONTH_FMT = "yyyy-MM"


def derived_root() -> str:
    """Base directory for write-once derived layouts (overridable for
    tests/harnesses via SPARK_GRAFT_DERIVED_DIR)."""
    return os.environ.get(
        "SPARK_GRAFT_DERIVED_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_derived"),
    )


def publish_once(path: str, write_fn) -> None:
    """Write-once publish with a commit-by-rename: materialize into a
    unique sibling temp directory, then atomically rename into place.

    Concurrent first-callers race SAFELY: each writes its own temp dir,
    exactly one rename wins, and a loser (rename fails because the target
    now exists) detects the winner's committed ``_SUCCESS`` and discards
    its own copy — the published path never holds a torn layout. POSIX
    rename semantics (derived layouts live on local disk). A pre-existing
    target WITHOUT ``_SUCCESS`` can only be residue from a non-atomic
    writer crash — refused with a clean-up message rather than silently
    clobbered."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    write_fn(tmp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race cleanly
        else:
            raise RuntimeError(
                f"publish_once: {path} exists without _SUCCESS (crashed "
                "non-atomic writer residue?) — remove it and retry"
            )


def time_partitioned_path(sf_dir: str, table: str, out_col: str) -> str:
    tag = re.sub(r"[^A-Za-z0-9._-]+", "_", sf_dir.strip("/"))
    return os.path.join(derived_root(), tag, f"{table}_by_{out_col}")


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    out_col: str,
    fmt: str = MONTH_FMT,
) -> None:
    """Materialize ``df`` partitioned by ``date_format(ts_col, fmt)``.

    One shuffle-free full pass (partitionBy on a derived column only
    splits writer output, it does not exchange); every subsequent range
    query on ``out_col`` becomes directory pruning."""
    (
        df.withColumn(out_col, F.date_format(F.col(ts_col), fmt))
        .write.partitionBy(out_col)
        .mode("overwrite")
        .parquet(path)
    )


def ensure_time_partitioned(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    ts_col: str,
    out_col: str,
    fmt: str = MONTH_FMT,
) -> DataFrame:
    """Write-once: materialize the derived layout if absent, then read it.

    The layout is keyed by (sf_dir, table, out_col) under
    :func:`derived_root`; a committed write (parquet ``_SUCCESS`` marker)
    is reused by every later caller in any session — the scan then reads
    ONLY the partitions a caller's ``out_col`` predicate selects.
    Concurrent first-callers are safe: the write commits via
    :func:`publish_once`'s atomic rename."""
    path = time_partitioned_path(sf_dir, table, out_col)
    publish_once(
        path,
        lambda tmp: write_time_partitioned(
            load(spark, sf_dir, table), tmp, ts_col, out_col, fmt
        ),
    )
    return spark.read.parquet(path)
