"""Incremental connected components over an edge stream.

The batch graph suite (operators/closure.py) recomputes components from
the full edge set; a graph that ARRIVES as a stream (the reference's
diff discipline — StatementSetDiff added-quads feeding the sameAs
component rebuild, Pipeline.scala:61-93 applied to edges) wants bounded
per-batch work instead. This job maintains the labeling incrementally,
the classic quotient-graph construction:

- STATE is a versioned (node, component, batch_id) store partitioned by
  (batch_id, comp_bucket) where comp_bucket = component % N_BUCKETS —
  the write-once/dynamic-overwrite discipline (a checkpoint replay
  rewrites its own partitions), with the upsert_dedup read rule: a
  node's current label is its max-batch row,
- per batch: look up the CURRENT labels of the touched nodes only (one
  candidate-bounded lookup: broadcast semi-join of the micro-batch's
  node set against the store's three-column projection), project the
  new edges onto those labels — the QUOTIENT GRAPH, whose size is
  bounded by the batch — and run large-star/small-star on it
  (operators/closure.py). The resulting remap (old label -> new label)
  is batch-bounded and broadcasts,
- the rewrite reads ONLY the state partitions whose comp_bucket matches
  a remapped label (partition-pruned scan). No version check is needed
  there, by the WHOLESALE-MERGE INVARIANT: labels die atomically — when
  a batch remaps label L, it rewrites every row carrying L, and no
  later row is ever written with component L (new labels are minima of
  current labels and fresh node ids, and L is neither once retired) —
  so every row whose component is a current label is itself current,
- new nodes label themselves through the same quotient components.

Correctness identity (induction over batches on the quotient
construction): after any prefix of batches, each node's current label
is the MINIMUM node id of its connected component over the union of all
delivered edges — exactly connected_components_star over the batch
union, so q_streaming_components reuses q_components_star's oracle
VERBATIM, and edge->batch assignment cannot matter (components are
order-free; no staging-mtime sensitivity).

Lifecycle: accreted batch partitions fold into a ``base-<F>``
generation via :func:`compact_cc_state` (the ivf_stream compaction
discipline, on upsert_dedup's generation helpers: latest row per node,
original batch_id kept as a data column, parquet ``_SUCCESS`` commit
point, crash-safe sweep and cleanup, fresh-checkpoint replay guard).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.closure import connected_components_star
from .dedup_stream import _batch_ids
from .upsert_dedup import (
    _cleanup_folded,
    _side_fold,
    _sweep_uncommitted_bases,
)

N_BUCKETS = 32


def _live_batches(spark, state_dir: str, fold: int | None) -> set[int]:
    ids = _batch_ids(spark, state_dir)
    if fold is None:
        return ids
    return {b for b in ids if b > fold}


def _read_state(spark, state_dir: str) -> DataFrame | None:
    """Unified read of the labeling store: the committed ``base-<F>``
    (batch_id/comp_bucket are DATA columns there) unioned with the
    still-live batch partitions. None before the first batch."""
    fold = _side_fold(spark, state_dir)
    live = _live_batches(spark, state_dir, fold)
    parts: list[DataFrame] = []
    if fold is not None:
        parts.append(
            spark.read.parquet(posixpath.join(state_dir, f"base-{fold}"))
            .withColumn("batch_id", F.col("batch_id").cast("long"))
            .withColumn("comp_bucket", F.col("comp_bucket").cast("int"))
        )
    if live:
        paths = [
            posixpath.join(state_dir, f"batch_id={b}") for b in sorted(live)
        ]
        parts.append(
            spark.read.option("basePath", state_dir)
            .parquet(*paths)
            .withColumn("batch_id", F.col("batch_id").cast("long"))
            .withColumn("comp_bucket", F.col("comp_bucket").cast("int"))
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def process_cc_batch(
    batch: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    src: str = "src",
    dst: str = "dst",
) -> None:
    """Ingest one micro-batch of edges; bounded re-labeling (see module
    docstring)."""
    if batch.isEmpty():
        return
    spark = batch.sparkSession
    fold = _side_fold(spark, state_dir)
    if fold is not None and batch_id <= fold:
        # checkpoint replay of a folded batch: its effects are inside
        # base-<fold> (components are a pure function of the edge union,
        # so the folded labeling already reflects this batch's edges) —
        # no-op. Fresh-checkpoint misuse is detected as in ivf_stream:
        # a folded batch's endpoints ALL exist in the store; an absent
        # node proves a NEW stream restarted ids at 0. NECESSARY but not
        # sufficient (a fresh batch whose edges only touch known nodes
        # passes — but for CC that is HARMLESS only if those edges were
        # truly delivered before; reuse the original checkpointLocation).
        state = _read_state(spark, state_dir)
        touched = (
            batch.select(F.col(src).alias("node"))
            .unionByName(batch.select(F.col(dst).alias("node")))
            .distinct()
        )
        missing = (
            touched.join(state.select("node").distinct(), "node", "left_anti")
            .limit(1)
            .count()
        )
        if missing:
            raise RuntimeError(
                f"batch {batch_id} <= fold {fold} at {state_dir} touches "
                f"nodes absent from the compacted labeling: this is not a "
                f"checkpoint replay of a folded batch but a NEW stream "
                f"started with a fresh checkpoint (batch ids restarted at "
                f"0). Reuse the original checkpointLocation, or point the "
                f"new stream at a fresh state_dir."
            )
        return
    edges = (
        batch.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    touched = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    state = _read_state(spark, state_dir)
    if state is None:
        cur = touched.select(
            "node", F.lit(None).cast("long").alias("label")
        ).limit(0)
    else:
        # candidate-bounded current-label lookup: three-column projection
        # of the store, broadcast-semi-joined to the batch's node set,
        # max-batch row per touched node
        hits = state.select("node", "component", "batch_id").join(
            F.broadcast(touched), "node"
        )
        latest = hits.groupBy("node").agg(F.max("batch_id").alias("batch_id"))
        cur = hits.join(latest, ["node", "batch_id"]).select(
            "node", F.col("component").alias("label")
        )
    # quotient graph: project the new edges onto current labels (a node
    # unseen so far labels itself); size bounded by the micro-batch
    cu = cur.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    cv = cur.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    quotient = (
        edges.join(cu, "u", "left")
        .join(cv, "v", "left")
        .select(
            F.coalesce("lu", "u").alias("src"),
            F.coalesce("lv", "v").alias("dst"),
        )
    )
    merged = connected_components_star(quotient).localCheckpoint(eager=True)
    remap = merged.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("old_label"), F.col("component").alias("new_label")
    )
    # rows to (re)write: existing rows whose component is a remapped
    # label — partition-pruned by comp_bucket, no version check needed
    # (wholesale-merge invariant, module docstring) — plus the batch's
    # new nodes at their quotient component
    out_parts: list[DataFrame] = []
    if state is not None:
        buckets = sorted(
            {
                r.b
                for r in remap.select(
                    F.pmod("old_label", F.lit(N_BUCKETS)).alias("b")
                )
                .distinct()
                .collect()
            }
        )
        if buckets:
            relabeled = (
                state.filter(F.col("comp_bucket").isin(buckets))
                .join(
                    F.broadcast(remap),
                    F.col("component") == F.col("old_label"),
                )
                .select("node", F.col("new_label").alias("component"))
            )
            out_parts.append(relabeled)
        known = cur.select("node")
        new_nodes = touched.join(known, "node", "left_anti")
    else:
        new_nodes = touched
    new_rows = new_nodes.join(
        merged.withColumnRenamed("node", "__n"), F.col("node") == F.col("__n")
    ).select("node", "component")
    out_parts.append(new_rows)
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    (
        out.withColumn("batch_id", F.lit(batch_id))
        .withColumn("comp_bucket", F.pmod("component", F.lit(N_BUCKETS)))
        .write.partitionBy("batch_id", "comp_bucket")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(state_dir)
    )


def run_streaming_components(
    edges: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    src: str = "src",
    dst: str = "dst",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start the incremental-components job on an edge stream."""

    def process(batch: DataFrame, batch_id: int) -> None:
        process_cc_batch(batch, batch_id, state_dir=state_dir, src=src, dst=dst)

    return (
        edges.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def current_components(spark: SparkSession, state_dir: str) -> DataFrame:
    """The CURRENT labeling: (node, component) — each node's max-batch
    row; equals connected_components_star over the union of all
    delivered edges (module docstring identity)."""
    state = _read_state(spark, state_dir)
    if state is None:
        raise RuntimeError(f"streaming components state at {state_dir} is empty")
    latest = state.groupBy("node").agg(F.max("batch_id").alias("batch_id"))
    return state.join(latest, ["node", "batch_id"]).select("node", "component")


def compact_cc_state(spark: SparkSession, state_dir: str) -> dict[str, int]:
    """Fold the accreted batch partitions into a ``base-<F>`` generation:
    each node's latest row only, partitioned by comp_bucket, original
    batch_id preserved as a data column — the labeling and every view are
    bit-identical (the compact_ivf_index discipline; run quiescent).
    Returns {"nodes": rows} folded by THIS call."""
    _sweep_uncommitted_bases(spark, state_dir)
    fold = _side_fold(spark, state_dir)
    live_b = _live_batches(spark, state_dir, fold)
    if not live_b:
        if fold is not None:
            _cleanup_folded(spark, state_dir, fold)
        return {"nodes": 0}
    target = max(live_b)
    full = _read_state(spark, state_dir)
    latest = full.groupBy("node").agg(F.max("batch_id").alias("batch_id"))
    survivors = full.join(latest, ["node", "batch_id"]).select(
        "node", "component", "batch_id", "comp_bucket"
    )
    survivors.write.partitionBy("comp_bucket").mode("overwrite").parquet(
        posixpath.join(state_dir, f"base-{target}")
    )
    n = spark.read.parquet(
        posixpath.join(state_dir, f"base-{target}")
    ).count()
    _cleanup_folded(spark, state_dir, target)
    return {"nodes": n}
