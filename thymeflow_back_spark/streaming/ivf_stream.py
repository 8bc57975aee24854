"""Streaming IVF index maintenance: upsert-aware vector ingestion.

A retrieval corpus is not static — embeddings arrive continuously and
documents are RE-EMBEDDED on update (the reference's re-delivery
contract, Pipeline.scala:61-93, applied to vectors). Rebuilding the IVF
index (operators/ivf.py) per batch is O(corpus); this job maintains it
incrementally, the production vector-database pattern:

- the COARSE QUANTIZER freezes on the FIRST batch: content-addressed
  seeds + one Lloyd refinement over batch 0's vectors, published once as
  a committed JSON artifact (write-once, the decon_stream index
  discipline — production systems retrain the quantizer offline, never
  per insert). Every later batch assigns against the same centroids, so
  cell routing is stable and map-side,
- per batch: one broadcast-centroid argmax assignment pass, then the
  (c_id, cell, c_vec) rows write partitioned by (batch_id, cell) with
  dynamic overwrite — a checkpoint replay rewrites its own partitions
  (idempotent, the dedup_stream discipline),
- versioning is the upsert_dedup design: no retractions — an id's
  CURRENT vector is its max-batch entry. A re-embedded vector may move
  cells; the stale entry in the old cell loses the version check and
  never surfaces,
- search (:func:`current_ivf_topk`) probes the ``n_probe`` nearest
  cells per query: the cell predicate prunes partitions BEFORE the
  version join, so per-query work stays ~n_probe/n_cells of the
  corpus regardless of how many batches accreted.

Lifecycle: a long-running stream accretes one partition per batch, and
the version lookup over raw batches is O(accreted index) per search.
:func:`compact_ivf_index` (run quiescent) folds each id's LATEST-version entry into a ``base-<F>``
generation partitioned by cell only — original batch ids preserved as a
data column, so the version relation is bit-identical. After a fold the
current view splits exactly:

- a BASE entry is current iff its id was not re-delivered in any
  still-live batch (one broadcast anti-join against the live id set,
  which is bounded by the batches since the last compaction),
- a LIVE entry is current iff it holds the max batch id among live
  entries for its id (base generations can never supersede live ones:
  every folded batch id <= fold < every live batch id).

So the search read path is O(probed base cells + live), not O(index):
the probed-cell predicate prunes the base scan's partitions, and the
only version state consulted corpus-wide is the (small) live tail.
Commit point is the base write's own parquet ``_SUCCESS``; covered batch
partitions and older bases are deleted only after it lands, a crashed
partial base is swept by the next run, and a checkpoint replay of an
already-folded batch no-ops behind a fresh-checkpoint misuse check.

Correctness identity: with the quantizer fixed, the current view's
top-k equals batch IVF over the latest-version corpus with the same
centroids — q_streaming_ivf_upsert's oracle replays exactly that
(train on batch 0, index the upserted corpus), and compaction leaves
the view bit-identical (pinned by test_ivf_stream.py).
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..operators.ivf import (
    N_CELLS,
    N_PROBE,
    _cell_scores,
    ivf_assign,
    refine_centroids,
    seed_centroids,
)
from ..operators.similarity import SCORE_DECIMALS, as_double_array, dot, norm
from .dedup_stream import _batch_ids, _hadoop_fs
from .upsert_dedup import (
    _cleanup_folded,
    _side_fold,
    _sweep_uncommitted_bases,
)


def _centroids_path(index_dir: str) -> str:
    return posixpath.join(index_dir, "centroids")


def _cells_dir(index_dir: str) -> str:
    return posixpath.join(index_dir, "cells")


def load_stream_centroids(
    spark: SparkSession, index_dir: str
) -> list[list[float]] | None:
    """The committed quantizer, or None before the first batch."""
    path = _centroids_path(index_dir)
    fs, _ = _hadoop_fs(spark, path)
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        posixpath.join(path, "_SUCCESS")
    )
    if not fs.exists(marker):
        return None
    (row,) = spark.read.json(path).collect()
    return json.loads(row.centroids)


def _live_batches(spark, cells_dir: str, fold: int | None) -> set[int]:
    """batch_id partitions the fold point does NOT cover."""
    ids = _batch_ids(spark, cells_dir)
    if fold is None:
        return ids
    return {b for b in ids if b > fold}


def _read_live(spark, cells_dir: str, batches: set[int]) -> DataFrame:
    """The still-live batch partitions, batch_id/cell recovered from the
    partition dirs. Size is bounded by the batches since the last
    compaction, so consumers may broadcast its id projection."""
    paths = [
        posixpath.join(cells_dir, f"batch_id={b}") for b in sorted(batches)
    ]
    return (
        spark.read.option("basePath", cells_dir)
        .parquet(*paths)
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )


def _read_base(spark, cells_dir: str, fold: int) -> DataFrame:
    """The committed ``base-<fold>`` generation: one entry per id at its
    fold-time latest version, partitioned by cell (batch_id is a DATA
    column — compaction preserves each survivor's original version)."""
    base = spark.read.parquet(posixpath.join(cells_dir, f"base-{fold}"))
    return base.withColumn("batch_id", F.col("batch_id").cast("long"))


def current_ivf_entries(
    spark: SparkSession, index_dir: str, cells: list[int] | None = None
) -> DataFrame:
    """The index's CURRENT rows (c_id, cell, c_vec), optionally restricted
    to ``cells`` — the restriction is applied so the base scan prunes by
    its cell partitioning while version resolution stays corpus-correct:

    - base side: partition-pruned to ``cells``, then one broadcast
      anti-join against the LIVE id set (an id re-delivered in any live
      batch supersedes its base entry regardless of which cell either
      sits in),
    - live side: max-batch-per-id over the live tail only (base ids
      cannot supersede live ones), then the cell restriction.

    Before the first compaction everything is live and this degrades to
    the corpus-wide max-batch lookup (compaction is the maintenance op
    that bounds the read path).
    """
    cells_dir = _cells_dir(index_dir)
    fold = _side_fold(spark, cells_dir)
    live_b = _live_batches(spark, cells_dir, fold)
    live = _read_live(spark, cells_dir, live_b) if live_b else None
    base = _read_base(spark, cells_dir, fold) if fold is not None else None
    if base is not None and cells is not None:
        base = base.filter(F.col("cell").isin(cells))
    parts: list[DataFrame] = []
    if live is not None:
        latest = live.groupBy("c_id").agg(F.max("batch_id").alias("batch_id"))
        live_cur = live.join(latest, ["c_id", "batch_id"]).select(
            "c_id", "cell", "c_vec"
        )
        if cells is not None:
            live_cur = live_cur.filter(F.col("cell").isin(cells))
        parts.append(live_cur)
        if base is not None:
            live_ids = live.select("c_id").distinct()
            parts.append(
                base.join(F.broadcast(live_ids), "c_id", "left_anti").select(
                    "c_id", "cell", "c_vec"
                )
            )
    elif base is not None:
        parts.append(base.select("c_id", "cell", "c_vec"))
    if not parts:
        raise RuntimeError(f"streaming IVF index at {index_dir} is empty")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def process_ivf_batch(
    batch: DataFrame,
    batch_id: int,
    *,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    refine_iters: int = 1,
) -> None:
    """Ingest one micro-batch: train-once quantizer, assign, append."""
    if batch.isEmpty():
        return
    spark = batch.sparkSession
    # within-batch re-delivery has no order to resolve by — refuse loudly
    # (the caller routes updates to separate batches; cheap: one agg over
    # the micro-batch)
    dup = (
        batch.groupBy(id_col).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            f"batch {batch_id} delivers some {id_col} more than once; "
            "within-batch upserts are unordered — deliver updates in a "
            "later micro-batch"
        )
    cells_dir = _cells_dir(index_dir)
    fold = _side_fold(spark, cells_dir)
    if fold is not None and batch_id <= fold:
        # a checkpoint replay of a batch the compaction already folded:
        # its surviving entries live in base-<fold> and readers ignore
        # batch partitions <= fold, so rewriting the partition would be
        # wasted. Before no-opping, distinguish a genuine replay from
        # MISUSE: a NEW stream with a fresh checkpoint restarts batch ids
        # at 0. Compaction keeps every id's latest version, so a
        # genuinely-folded batch's ids ALL exist in the store; any absent
        # id proves this batch never ran. NECESSARY but not SUFFICIENT: a
        # fresh-checkpoint batch that only RE-delivers ids already in the
        # compacted index passes this check and is dropped as a replay;
        # reuse the original checkpointLocation to avoid it entirely.
        store_ids = current_ivf_entries(spark, index_dir).select(
            F.col("c_id").alias(id_col)
        )
        missing = (
            batch.select(F.col(id_col))
            .distinct()
            .join(store_ids.distinct(), id_col, "left_anti")
            .limit(1)
            .count()
        )
        if missing:
            raise RuntimeError(
                f"batch {batch_id} <= fold {fold} at {index_dir} contains "
                f"ids absent from the compacted index: this is not a "
                f"checkpoint replay of a folded batch but a NEW stream "
                f"started with a fresh checkpoint against a compacted "
                f"index (batch ids restarted at 0). Reuse the original "
                f"checkpointLocation, or point the new stream at a fresh "
                f"index_dir. (An update-only fresh batch — every id "
                f"already indexed — cannot be told apart from a replay "
                f"and would be dropped.)"
            )
        return
    cents = load_stream_centroids(spark, index_dir)
    if cents is None:
        cents = seed_centroids(batch, id_col, vec_col, n_cells)
        if refine_iters:
            cents = refine_centroids(batch, id_col, vec_col, cents, refine_iters)
        spark.createDataFrame(
            [(json.dumps(cents),)], "centroids string"
        ).coalesce(1).write.mode("overwrite").json(_centroids_path(index_dir))
    assign = ivf_assign(batch, id_col, vec_col, cents)
    (
        assign.withColumn("batch_id", F.lit(batch_id))
        .write.partitionBy("batch_id", "cell")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(cells_dir)
    )


def compact_ivf_index(spark: SparkSession, index_dir: str) -> dict[str, int]:
    """Fold the accreted batch partitions into a ``base-<F>`` generation.

    Keeps each id's LATEST-version entry only, partitioned by cell (the
    search axis) with the original batch_id preserved as a data column —
    ``max(batch_id) per id`` is bit-identical before and after, so the
    current view and every emitted search result are unchanged (pinned
    by test_ivf_stream.py). Run while the stream is quiescent.

    Crash safety: the commit point is the base write's own parquet ``_SUCCESS``; a
    partial write lacks it, is ignored by readers, and is swept by the
    next run; covered batch partitions and older bases are deleted only
    after the commit; a rerun after any crash point resumes
    deterministically (the latest-version map is a pure function of the
    surviving store).

    Returns {"cells": rows} folded by THIS call.
    """
    cells_dir = _cells_dir(index_dir)
    _sweep_uncommitted_bases(spark, cells_dir)
    fold = _side_fold(spark, cells_dir)
    live_b = _live_batches(spark, cells_dir, fold)
    if not live_b:
        if fold is not None:
            # a crash between a committed fold and its cleanup leaves
            # covered (but ignored) directories — sweep them
            _cleanup_folded(spark, cells_dir, fold)
        return {"cells": 0}
    target = max(live_b)
    live = _read_live(spark, cells_dir, live_b)
    full = (
        live.unionByName(_read_base(spark, cells_dir, fold))
        if fold is not None
        else live
    )
    latest = full.groupBy("c_id").agg(F.max("batch_id").alias("batch_id"))
    survivors = full.join(latest, ["c_id", "batch_id"]).select(
        "c_id", "c_vec", "batch_id", "cell"
    )
    survivors.write.partitionBy("cell").mode("overwrite").parquet(
        posixpath.join(cells_dir, f"base-{target}")
    )
    n = spark.read.parquet(
        posixpath.join(cells_dir, f"base-{target}")
    ).count()
    _cleanup_folded(spark, cells_dir, target)
    return {"cells": n}


def run_streaming_ivf(
    vectors: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = N_CELLS,
    refine_iters: int = 1,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start the upsert-aware IVF maintenance job on a vector stream; a
    re-delivered ``id_col`` replaces the vector (last writer wins)."""

    def process(batch: DataFrame, batch_id: int) -> None:
        process_ivf_batch(
            batch,
            batch_id,
            index_dir=index_dir,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            refine_iters=refine_iters,
        )

    return (
        vectors.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def current_ivf_view(spark: SparkSession, index_dir: str) -> DataFrame:
    """The index's CURRENT vectors: (c_id, cell, c_vec) — each id's
    max-batch entry, read through the base generation when one is
    committed (see :func:`current_ivf_entries`)."""
    return current_ivf_entries(spark, index_dir)


def current_ivf_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int = N_PROBE,
    query_id_col: str = "q_id",
) -> DataFrame:
    """Top-k against the maintained index's current view: probe cells
    compute from the committed quantizer, the cell predicate prunes the
    base scan's partitions BEFORE the version join (the only corpus-wide
    version state is the live tail — see :func:`current_ivf_entries`),
    exact cosine on the survivors; self-matches excluded (as in
    ``ivf_topk``)."""
    cents = load_stream_centroids(spark, index_dir)
    if cents is None:
        raise RuntimeError(f"no committed quantizer under {index_dir}")
    qv = as_double_array(F.col(vec_col))
    ranked = F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: F.struct(
            F.element_at(F.col("scores"), i + 1).alias("s"), (-i).alias("negcell")
        ),
    )
    probes = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            qv.alias("q_vec"),
            _cell_scores(qv, cents).alias("scores"),
        )
        .select(
            query_id_col,
            "q_vec",
            F.explode(
                F.slice(F.sort_array(ranked, asc=False), 1, n_probe).getField(
                    "negcell"
                )
            ).alias("negcell"),
        )
        .select(query_id_col, "q_vec", (-F.col("negcell")).alias("cell"))
    )
    cells = sorted({r.cell for r in probes.select("cell").distinct().collect()})
    live = current_ivf_entries(spark, index_dir, cells=cells)
    score = F.round(
        dot(F.col("q_vec"), F.col("c_vec"))
        / (norm(F.col("q_vec")) * norm(F.col("c_vec"))),
        SCORE_DECIMALS,
    )
    scored = (
        live.join(F.broadcast(probes), "cell")
        .filter(F.col(query_id_col) != F.col("c_id"))
        .select(query_id_col, "c_id", score.alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
