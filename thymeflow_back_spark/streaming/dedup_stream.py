"""Incremental near-duplicate detection over a document stream.

Batch dedup (operators/dedup.py) answers "which documents in this corpus
duplicate each other"; a continuously-ingesting pipeline needs the
incremental form: "which of the documents that JUST ARRIVED duplicate
anything seen before". Re-running the all-corpus join per arrival would be
O(corpus) per batch — a non-starter at 100 TB. Instead the job maintains a
persistent MinHash BAND INDEX:

- ``<index>/bands``: (id, band, bkey), parquet partitioned by band — the
  LSH buckets of every document ever seen. A new batch's band keys join
  against this (equi-join on band+bkey, band partition-pruned), so each
  batch touches only the bucket entries it collides with, never the corpus.
- ``<index>/docs``: (id, sh) — shingle sets for the exact-Jaccard verify of
  the candidates (in-row array_intersect, candidate-proportional work).

Per micro-batch: within-batch pairs via the batch-local blocked join, plus
new-vs-corpus pairs via the index; then the batch's bands and shingle sets
are appended to the index. All hashing is the md5-derived family from
operators/dedup.py, so the streaming job finds exactly the pairs the batch
operator would (asserted in tests/test_streaming_dedup.py).

State discipline: the index grows with the corpus (unavoidable — dedup
state IS corpus-sized) but per-batch work is bounded by batch size ×
collision rate; compaction of the append-parquet is an offline concern.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import (
    doc_shingles,
    jaccard_near_dups,
    jaccard_verify_pairs,
    lsh_band_rows,
    minhash_signatures_mapside,
)

DOC_STREAM_FIELDS = "doc_id bigint, text string"


def document_stream(spark, staging_dir: str, schema: str = DOC_STREAM_FIELDS) -> DataFrame:
    """Stream of documents from a staging directory of parquet files."""
    return spark.readStream.schema(schema).parquet(staging_dir)


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — resolves the
    scheme (file:, hdfs:, s3a:, ...) against the session's Hadoop conf, so
    index discovery and compaction work on whatever filesystem the index
    lives on, not just the driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _batch_ids(spark, path: str) -> set[int]:
    """batch_id partition values present under ``path`` — a directory
    listing (Hadoop FS, so remote URIs list correctly), not a Spark read,
    so guard checks cost nothing."""
    ids: set[int] = set()
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return ids
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if name.startswith("batch_id="):
            try:
                ids.add(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return ids


def _foreign_batch_ids(spark, path: str, current: int) -> set[int]:
    """batch_id partition values under ``path`` other than the batch
    currently being processed (its partitions are about to be dynamically
    overwritten, so a crashed prior attempt of it is ignored)."""
    return _batch_ids(spark, path) - {current}


def run_incremental_near_dup(
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
    """Start the incremental near-dup job on a document stream.

    Emits to ``pairs_dir``: (a_id, b_id, n_common, jaccard) where a_id is the
    earlier-seen document (previous batch or smaller id within the batch).
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        process_batch(
            batch,
            batch_id,
            index_dir=index_dir,
            pairs_dir=pairs_dir,
            id_col=id_col,
            text_col=text_col,
            n=n,
            threshold=threshold,
        )

    writer = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    return writer.start()


def process_batch(
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
    """One micro-batch of the incremental near-dup job — module-level so a
    retry (same batch_id, arbitrary prefix of the previous attempt's writes
    on disk) can be exercised directly in tests."""
    bands_dir = posixpath.join(index_dir, "bands")
    docs_dir = posixpath.join(index_dir, "docs")
    if batch.isEmpty():
        return
    # Retry discipline: a crashed attempt of THIS batch may have left
    # any prefix of its three writes behind. Partitions belonging to
    # the current batch_id are therefore ignored on read (they are
    # about to be dynamically overwritten) — otherwise a retried batch
    # joins against its own half-written bands and emits self-pairs.
    # Partitions from OTHER batches must agree between bands/ and
    # docs/: a mismatch means another batch crashed between its index
    # writes, and proceeding would either forget the corpus or verify
    # against a missing shingle store.
    spark = batch.sparkSession
    bands_prev = _foreign_batch_ids(spark, bands_dir, batch_id)
    docs_prev = _foreign_batch_ids(spark, docs_dir, batch_id)
    if bands_prev != docs_prev:
        raise RuntimeError(
            f"near-dup index at {index_dir} is incomplete: bands has "
            f"batches {sorted(bands_prev)} but docs has "
            f"{sorted(docs_prev)} (interrupted write?); rerun the "
            f"interrupted batch from its checkpoint to repair it"
        )
    batch = batch.localCheckpoint(eager=True)

    docs_sh = doc_shingles(batch, id_col, text_col, n).localCheckpoint(eager=True)
    bands = lsh_band_rows(
        minhash_signatures_mapside(docs_sh, id_col), id_col
    ).localCheckpoint(eager=True)

    # within-batch pairs reuse the checkpointed shingle sets — without
    # `shingles=` the batch would be tokenized twice (once for the index
    # write, once inside the pair join), doubling the CPU-heavy stage on
    # the hot streaming path
    pairs = jaccard_near_dups(batch, id_col, text_col, n, threshold, shingles=docs_sh)

    if bands_prev:
        # enumerate the foreign partitions explicitly instead of filtering
        # a root read: a crashed attempt can leave a TRUNCATED parquet file
        # under the current batch's partition, and a root read may touch its
        # footer during file listing/schema inference even though the rows
        # would be filtered out
        def read_prev(root: str, ids: set[int]) -> DataFrame:
            paths = [posixpath.join(root, f"batch_id={b}") for b in sorted(ids)]
            return spark.read.option("basePath", root).parquet(*paths)

        old_bands = read_prev(bands_dir, bands_prev)
        cands = (
            old_bands.withColumnRenamed(id_col, "a_id")
            .join(bands.withColumnRenamed(id_col, "b_id"), ["band", "bkey"])
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
        )
        old_docs = read_prev(docs_dir, docs_prev)
        verified = jaccard_verify_pairs(
            cands.join(
                old_docs.select(
                    F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh")
                ),
                "a_id",
            ).join(
                docs_sh.select(
                    F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh")
                ),
                "b_id",
            ),
            threshold,
        )
        pairs = pairs.unionByName(verified)

    # Idempotent sinks (the foreachBatch contract): every write is
    # partitioned by batch_id with DYNAMIC partition overwrite, so a
    # retried batch overwrites its own partitions instead of appending
    # duplicates after a partial failure.
    def write(df: DataFrame, path: str, *extra_parts: str) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.partitionBy("batch_id", *extra_parts)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )

    write(bands, bands_dir, "band")
    write(docs_sh, docs_dir)
    write(pairs, pairs_dir)
