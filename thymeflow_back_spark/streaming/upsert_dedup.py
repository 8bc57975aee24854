"""Upsert-aware incremental near-dup: document re-delivery replaces state.

The append-only job (dedup_stream.py) assumes immutable documents; real
ingestion RE-DELIVERS them (the reference's core contract — a Document
re-delivery REPLACES its named graph, Pipeline.scala:61-93). This job
extends the persistent-band-index design with last-writer-wins versioning:

- every index entry (band row, shingle row) carries its ``batch_id`` —
  a document's CURRENT version is its max batch in the docs store, so no
  separate version log exists (the id+batch projection of the store IS
  the version relation),
- per batch, within-batch pairs come from the exact blocked join as
  before; cross-batch candidates join the new bands against prior band
  entries EXCLUDING (a) ids re-delivered in THIS batch (their old bands
  are stale and their new text already rides the within-batch join) and
  (b) entries superseded by a later re-delivery (entry batch != the
  id's latest batch — checked against the candidate-bounded version
  lookup, a broadcast-semi-joined scan of the id+batch columns only),
- emitted pairs carry BOTH endpoints' versions (a_ver, b_ver). Nothing
  is ever retracted from the pairs log — supersession happens AT READ:
  :func:`current_near_dups` keeps a pair iff both endpoints' emit
  versions are still their latest versions. An update to either
  endpoint silently invalidates the old pairs, and the update's own
  batch re-emits whatever still matches (its new bands joined the whole
  surviving corpus), so the CURRENT view always equals batch dedup over
  the corpus of latest versions (within-batch exact + cross-batch LSH
  recall, the q_streaming_near_dup contract).

Per-batch cost stays incremental: the batch's own shingle/band passes,
one band-bucket join against the index, and a version lookup bounded by
the candidate set; the only full-store read is the two-column id+batch
projection inside the read-side view.

Write discipline is dedup_stream's: every sink partitioned by batch_id
with dynamic overwrite, so a retried batch rewrites its own partitions.
The index is not compacted: it holds one partition per batch per sink.

The ``base-<F>`` generation helpers below (commit by the write's own
``_SUCCESS``, sweep, cleanup) are the compaction protocol that the
connected-components and IVF stream jobs share.
"""

from __future__ import annotations

import posixpath
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    doc_shingles,
    jaccard_near_dups,
    jaccard_verify_pairs,
    lsh_band_rows,
    minhash_signatures_mapside,
)
from .dedup_stream import _batch_ids, _hadoop_fs

_BASE_RE = re.compile(r"^base-(\d+)$")


def _committed_bases(spark, side_dir: str) -> dict[int, bool]:
    """{F: committed} for every ``base-<F>`` directory under a side —
    committed means the Spark write's own ``_SUCCESS`` marker landed (the
    compaction commit point; a dir without it is a crashed partial write,
    ignored by readers and swept by the next compaction)."""
    out: dict[int, bool] = {}
    fs, jpath = _hadoop_fs(spark, side_dir)
    if not fs.exists(jpath):
        return out
    jvm = spark._jvm
    for status in fs.listStatus(jpath):
        m = _BASE_RE.match(status.getPath().getName())
        if m:
            ok = fs.exists(
                jvm.org.apache.hadoop.fs.Path(
                    posixpath.join(side_dir, m.group(0), "_SUCCESS")
                )
            )
            out[int(m.group(1))] = bool(ok)
    return out


def _has_parquet_files(spark, path: str) -> bool:
    """True iff ``path`` exists and holds at least one ``*.parquet`` file
    (directly or one level down — dynamic partitionBy writes nest part
    files under partition dirs). Distinguishes a zero-row write (only
    ``_SUCCESS``) from a readable layout WITHOUT a try/except around the
    read, so genuine IO errors still propagate from the read itself."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return False
    stack = [jpath]
    depth = {str(jpath): 0}
    while stack:
        cur = stack.pop()
        for status in fs.listStatus(cur):
            name = status.getPath().getName()
            if status.isFile() and name.endswith(".parquet"):
                return True
            if status.isDirectory() and depth[str(cur)] == 0:
                stack.append(status.getPath())
                depth[str(status.getPath())] = 1
    return False


def _side_fold(spark, side_dir: str) -> int | None:
    """The side's max COMMITTED base generation, or None if unfolded."""
    committed = [f for f, ok in _committed_bases(spark, side_dir).items() if ok]
    return max(committed) if committed else None


def _read_side(spark, side_dir: str, batches: set[int]) -> DataFrame | None:
    """The given batch_id partitions of a side, batch_id recovered from the
    partition dirs. None when there are none."""
    if not batches:
        return None
    paths = [posixpath.join(side_dir, f"batch_id={b}") for b in sorted(batches)]
    df = spark.read.option("basePath", side_dir).parquet(*paths)
    return df.withColumn("batch_id", F.col("batch_id").cast("long"))


def run_upsert_near_dup(
    docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start the upsert-aware near-dup job on a document stream; a
    re-delivered ``id_col`` replaces the document (last writer wins)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        process_upsert_batch(
            batch,
            batch_id,
            index_dir=index_dir,
            pairs_dir=pairs_dir,
            id_col=id_col,
            text_col=text_col,
            n=n,
            threshold=threshold,
        )

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def process_upsert_batch(
    batch: DataFrame,
    batch_id: int,
    *,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> None:
    bands_dir = posixpath.join(index_dir, "bands")
    docs_dir = posixpath.join(index_dir, "docs")
    if batch.isEmpty():
        return
    spark = batch.sparkSession
    prev = _batch_ids(spark, docs_dir) - {batch_id}
    bands_prev = _batch_ids(spark, bands_dir) - {batch_id}
    if bands_prev != prev:
        raise RuntimeError(
            f"upsert near-dup index at {index_dir} is incomplete: bands "
            f"has batches {sorted(bands_prev)} but docs has "
            f"{sorted(prev)} (interrupted write?); rerun the interrupted "
            "batch from its checkpoint to repair it"
        )
    # deterministic within-batch last-writer: at most one row per id
    # (double delivery inside one micro-batch has no order, so collapse
    # by max(text) — any pure function works as long as both engines
    # and every retry agree)
    batch = (
        batch.groupBy(F.col(id_col))
        .agg(F.max(text_col).alias(text_col))
        .localCheckpoint(eager=True)
    )
    docs_sh = doc_shingles(batch, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    bands = lsh_band_rows(
        minhash_signatures_mapside(docs_sh, id_col), id_col
    ).localCheckpoint(eager=True)

    pairs = jaccard_near_dups(
        batch, id_col, text_col, n, threshold, shingles=docs_sh
    ).select(
        "a_id",
        "b_id",
        "n_common",
        "jaccard",
        F.lit(batch_id).cast("long").alias("a_ver"),
        F.lit(batch_id).cast("long").alias("b_ver"),
    )

    if prev:
        cur_ids = batch.select(F.col(id_col).alias("a_id"))
        old_bands = (
            _read_side(spark, bands_dir, prev)
            .withColumnRenamed(id_col, "a_id")
            # (a) re-delivered THIS batch: old bands stale, new text
            # already joined within-batch
            .join(F.broadcast(cur_ids), "a_id", "left_anti")
        )
        # cands feeds two consumers (the version lookup's id set and the
        # live filter join) — checkpoint so the band-bucket join against
        # the stored index runs once per micro-batch, not twice
        cands = (
            old_bands.join(
                bands.withColumnRenamed(id_col, "b_id"), ["band", "bkey"]
            )
            .select("a_id", F.col("batch_id").alias("entry_ver"), "b_id")
            .dropDuplicates(["a_id", "entry_ver", "b_id"])
            .localCheckpoint(eager=True)
        )
        # (b) candidate-bounded version lookup: an id's latest batch over
        # the docs store's id+batch projection (columns only — the scan
        # prunes to two columns; the semi join bounds the aggregate to
        # candidate ids)
        old_docs = _read_side(spark, docs_dir, prev)
        latest = (
            old_docs.select(F.col(id_col).alias("a_id"), "batch_id")
            .join(
                F.broadcast(cands.select("a_id").distinct()), "a_id"
            )
            .groupBy("a_id")
            .agg(F.max("batch_id").alias("a_ver"))
        )
        live = cands.join(latest, "a_id").filter(
            F.col("entry_ver") == F.col("a_ver")
        )
        verified = jaccard_verify_pairs(
            live.join(
                old_docs.select(
                    F.col(id_col).alias("a_id"),
                    F.col("sh").alias("a_sh"),
                    F.col("batch_id").alias("a_ver2"),
                ),
                "a_id",
            )
            .filter(F.col("a_ver2") == F.col("a_ver"))
            .join(
                docs_sh.select(
                    F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh")
                ),
                "b_id",
            )
            .select("a_id", "b_id", "a_sh", "b_sh", "a_ver"),
            threshold,
            carry=("a_ver",),  # rides through the verify — no join-back
        ).select(
            "a_id",
            "b_id",
            "n_common",
            "jaccard",
            "a_ver",
            F.lit(batch_id).cast("long").alias("b_ver"),
        )
        pairs = pairs.unionByName(verified)

    def write(df: DataFrame, path: str, *extra_parts: str) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id", *extra_parts)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )

    # A crash between these writes is healed by the checkpoint replay
    # (dynamic overwrite rewrites the batch's own partitions); a crash
    # between bands and docs is caught by the interrupted-write check above
    # and heals the same way.
    write(pairs, pairs_dir)
    write(bands, bands_dir, "band")
    write(docs_sh, docs_dir)


def _read_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame | None:
    """Read the pairs log's batch_id partitions, tolerating the
    all-empty-batches layout: if every batch so far emitted zero pairs, the
    partitioned writes leave only _SUCCESS markers (no parquet footers) and
    a bare read fails with an unable-to-infer-schema error — signal "no
    pairs" with None so the caller can build an empty result typed from the
    docs store."""
    # a zero-pair batch's dynamic-overwrite write leaves only _SUCCESS
    # (no parquet footers) under its batch_id= dir — include only dirs
    # that hold data files, so schema inference never fails and a
    # GENUINE IO/corruption error still surfaces from the read itself
    paths = [
        p
        for b in sorted(_batch_ids(spark, pairs_dir))
        if _has_parquet_files(
            spark, p := posixpath.join(pairs_dir, f"batch_id={b}")
        )
    ]
    if not paths:
        return None
    return spark.read.option("basePath", pairs_dir).parquet(*paths).drop("batch_id")


def current_near_dups(
    spark: SparkSession,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """The CURRENT pair view: emitted pairs whose endpoints are both still
    at their emit-time versions. One id+batch projection of the docs
    store derives the version relation; stale pairs vanish without any
    retraction write."""
    docs_dir = posixpath.join(index_dir, "docs")
    store = _read_side(spark, docs_dir, _batch_ids(spark, docs_dir))
    if store is None:
        raise RuntimeError(f"upsert near-dup index at {index_dir} is empty")
    latest = (
        store.groupBy(F.col(id_col).alias("id"))
        .agg(F.max("batch_id").alias("latest"))
    )
    pairs = _read_pairs(spark, pairs_dir)
    if pairs is None:
        # zero pairs emitted so far — empty view, id type from the store
        return (
            store.select(
                F.col(id_col).alias("a_id"),
                F.col(id_col).alias("b_id"),
                F.lit(0).cast("bigint").alias("n_common"),
                F.lit(0.0).alias("jaccard"),
            )
            .limit(0)
        )
    la = latest.select(F.col("id").alias("a_id"), F.col("latest").alias("la"))
    lb = latest.select(F.col("id").alias("b_id"), F.col("latest").alias("lb"))
    # cross-batch pairs put the OLD document on the a side, so an update
    # can re-emit a pair with flipped orientation — normalize to a < b
    return (
        pairs.join(la, "a_id")
        .join(lb, "b_id")
        .filter((F.col("a_ver") == F.col("la")) & (F.col("b_ver") == F.col("lb")))
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            "n_common",
            "jaccard",
        )
        .dropDuplicates(["a_id", "b_id"])
    )


def _delete_path(spark, path: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _sweep_uncommitted_bases(spark, side_dir: str) -> None:
    for gen, committed in _committed_bases(spark, side_dir).items():
        if not committed:
            _delete_path(spark, posixpath.join(side_dir, f"base-{gen}"))


def _cleanup_folded(spark, side_dir: str, target: int) -> None:
    """Drop state the committed ``base-<target>`` generation covers: older
    base generations and batch_id partitions <= target. Runs only after
    ``base-<target>`` committed, so a crash mid-cleanup leaves extra (but
    ignored) directories, never missing data."""
    for gen in _committed_bases(spark, side_dir):
        if gen < target:
            _delete_path(spark, posixpath.join(side_dir, f"base-{gen}"))
    for b in _batch_ids(spark, side_dir):
        if b <= target:
            _delete_path(spark, posixpath.join(side_dir, f"batch_id={b}"))
