"""Deterministic training-shard export: the last mile before a training job.

``balanced_bins`` (operators/binning.py) computes straggler-free bin
assignments and ``pack_chunks`` (operators/packing.py) computes context
windows — but a training job consumes FILES. This writer materializes the
bin assignment as a partitioned parquet layout with an asserted physical
structure:

- one directory per bin (``bin=0`` .. ``bin=k-1``),
- exactly ONE data file per bin directory (each bin's rows are routed to a
  single task before the dynamic-partitioned write),
- rows inside the file in a deterministic order: descending weight,
  ties by id — the bin's LPT assignment order — with the 1-based position
  stored as ``seq`` so the order is checkable after any re-read.

Everything is a pure function of the (id, weight) key set: re-running the
writer on any cluster layout produces byte-identical bin membership,
sequence numbers, and file-per-bin structure (asserted in
tests/test_shards.py). The write-once ``ensure`` idiom matches the other
derived layouts (sources/timeparted.py, operators/ivf.py's cell index).

Scale note: one file per bin is the contract a k-worker training job wants
(worker i streams ``bin=i``); at 100 TB per-file size is corpus/k, so k is
chosen as the training world size, not a small constant. If a deployment
needs bounded file sizes instead, ``spark.sql.files.maxRecordsPerFile``
splits each bin into deterministically ordered sequential files without
touching row order — the seq column keeps the layout verifiable either way.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.binning import balanced_bins
from ..tables import load
from .timeparted import derived_root, publish_once

SHARD_K = 8


def shard_path(
    sf_dir: str,
    table: str,
    k: int,
    order: str = "lpt",
    weight_col=None,
    carry: tuple[str, ...] = (),
) -> str:
    # the intra-shard order, the weight expression, and the carry columns
    # are all part of the layout's identity: a write-once reuse must never
    # hand an lpt-ordered layout to a caller asking for the shuffled one,
    # nor a layout binned on one weight to a caller asking for another —
    # fold a digest of (weight, carry) into the directory name
    tag = re.sub(r"[^A-Za-z0-9._-]+", "_", sf_dir.strip("/"))
    name = f"{table}_shards_{k}_{order}"
    if weight_col is not None or carry:
        # str(Column) renders the unresolved expression tree; a plain
        # column name digests as itself
        sig = hashlib.md5(
            repr((str(weight_col), tuple(carry))).encode()
        ).hexdigest()[:10]
        name += f"_{sig}"
    return os.path.join(derived_root(), tag, name)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    weight_col: str,
    k: int,
    carry: tuple[str, ...] = (),
    order: str = "lpt",
    salt: str = "shard",
) -> None:
    """Materialize ``df`` as k length-balanced shards (see module doc).

    ``order`` picks the intra-shard row order (bin MEMBERSHIP is always
    the LPT assignment):

    - ``"lpt"`` — descending weight, ties by id (the assignment order;
      natural for inference batching where same-length rows co-batch),
    - ``"shuffled"`` — deterministic pseudo-random: ascending
      md5(salt:id), the q_deterministic_shuffle idiom. Training jobs want
      this one — length-sorted batches bias gradients, and a hash order
      is reproducible on any cluster (no RNG, no layout dependence).

    Either way ``seq`` stores the 1-based position in the chosen order,
    so the physical layout stays verifiable after any re-read.

    Plan shape: ONE range exchange (the prefix-sum rank inside
    balanced_bins), one hash exchange routing each bin to a single writer
    task, and an in-task sort — no global single-task sort anywhere.
    """
    if order not in ("lpt", "shuffled"):
        raise ValueError(f"order must be 'lpt' or 'shuffled', got {order!r}")
    binned = balanced_bins(
        df, id_col, weight_col, k, carry=carry, seq_col="seq"
    )
    if order == "shuffled":
        from pyspark.sql.window import Window

        key = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
        # per-bin rank over the hash order; each bin is one writer task's
        # worth of rows (corpus/k), so the in-task window sort is the same
        # cost class as the sortWithinPartitions below, never corpus-global
        w = Window.partitionBy("bin").orderBy(key, F.col(id_col))
        binned = binned.withColumn("seq", F.row_number().over(w).cast("bigint"))
    (
        binned.repartition(k, F.col("bin"))  # one task -> one file per bin dir
        .sortWithinPartitions("bin", "seq")
        .write.partitionBy("bin")
        .mode("overwrite")
        .parquet(path)
    )


def ensure_training_shards(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    id_col: str,
    weight_col,
    k: int = SHARD_K,
    carry: tuple[str, ...] = (),
    order: str = "lpt",
) -> DataFrame:
    """Write-once: materialize the shard layout if absent, then read it.

    ``weight_col`` is a column name or a Column expression; either way the
    output weight column is always named ``weight``. Concurrent
    first-callers are safe: the write commits via
    :func:`~..sources.timeparted.publish_once`'s atomic rename."""
    path = shard_path(sf_dir, table, k, order, weight_col=weight_col, carry=carry)

    def write(tmp: str) -> None:
        src = load(spark, sf_dir, table)
        w = weight_col
        if not isinstance(w, str):
            src = src.withColumn("__w", w)
            w = "__w"
        write_training_shards(src, tmp, id_col, w, k, carry=carry, order=order)

    publish_once(path, write)
    return spark.read.parquet(path)
