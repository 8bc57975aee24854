"""Incremental streaming near-dup: micro-batches vs the persistent band index."""

from __future__ import annotations

import pytest

# structured-streaming near-dup e2e incl. crash-restart (quick tier keeps
# the q_streaming_* oracle rows)
pytestmark = pytest.mark.slow

from thymeflow_back_spark.streaming.dedup_stream import (
    document_stream,
    run_incremental_near_dup,
)

B1 = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "one two three four five six seven eight nine ten"),
    # 3 is a near-dup of 1 (last token differs) — within-batch pair
    (3, "alpha beta gamma delta epsilon zeta eta theta iota OMEGA"),
]
B2 = [
    # exact duplicate of 2 — cross-batch pair via the band index
    (20, "one two three four five six seven eight nine ten"),
    (21, "totally fresh unrelated words that match nothing else here"),
]


def _run(spark, staging, index_dir, pairs_dir, ckpt):
    q = run_incremental_near_dup(
        document_stream(spark, str(staging)),
        str(index_dir),
        str(pairs_dir),
        str(ckpt),
    )
    q.awaitTermination(120)


def test_incremental_near_dup_within_and_cross_batch(spark, tmp_path):
    staging = tmp_path / "staging"
    index_dir = tmp_path / "index"
    pairs_dir = tmp_path / "pairs"
    ckpt = tmp_path / "ckpt"

    spark.createDataFrame(B1, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(staging))
    _run(spark, staging, index_dir, pairs_dir, ckpt)

    got = {
        (r.a_id, r.b_id): round(r.jaccard, 3)
        for r in spark.read.parquet(str(pairs_dir)).collect()
    }
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0  # within-batch near-dup
    assert all(a != 2 and b != 2 for a, b in got)  # clean doc pairs nothing

    spark.createDataFrame(B2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(staging))
    _run(spark, staging, index_dir, pairs_dir, ckpt)

    got = {
        (r.a_id, r.b_id): round(r.jaccard, 3)
        for r in spark.read.parquet(str(pairs_dir)).collect()
    }
    assert got[(2, 20)] == 1.0  # cross-batch exact dup via the index
    assert (1, 3) in got and len([k for k in got if 21 in k]) == 0

    # the index now holds all five documents' shingle sets
    assert spark.read.parquet(str(index_dir / "docs")).count() == 5


def _pairs_set(spark, pairs_dir):
    return {
        (r.a_id, r.b_id): round(r.jaccard, 3)
        for r in spark.read.parquet(str(pairs_dir)).collect()
    }


def test_retried_batch_is_idempotent(spark, tmp_path):
    """foreachBatch retry contract: re-running a batch whose previous
    attempt ALREADY appended its bands to the index must not join the new
    rows against that half-written state (self-pairs / mirrored pairs)."""
    from thymeflow_back_spark.streaming.dedup_stream import process_batch

    index_dir, pairs_dir = tmp_path / "index", tmp_path / "pairs"
    b1 = spark.createDataFrame(B1, ["doc_id", "text"])
    kw = dict(index_dir=str(index_dir), pairs_dir=str(pairs_dir))

    process_batch(b1, 0, **kw)
    first = _pairs_set(spark, pairs_dir)
    # full retry: bands/docs/pairs of batch 0 all on disk already
    process_batch(b1, 0, **kw)
    retried = _pairs_set(spark, pairs_dir)

    assert retried == first
    assert all(a != b for a, b in retried)  # no self-pairs from own bands
    # and a later batch still sees the batch-0 corpus exactly once
    b2 = spark.createDataFrame(B2, ["doc_id", "text"])
    process_batch(b2, 1, **kw)
    assert _pairs_set(spark, pairs_dir)[(2, 20)] == 1.0


def test_first_batch_partial_write_repaired_by_retry(spark, tmp_path):
    """Crash between write(bands) and write(docs) on the FIRST batch used
    to brick the stream (guard raised forever); the retry must repair it."""
    import shutil

    from thymeflow_back_spark.streaming.dedup_stream import process_batch

    index_dir, pairs_dir = tmp_path / "index", tmp_path / "pairs"
    b1 = spark.createDataFrame(B1, ["doc_id", "text"])
    kw = dict(index_dir=str(index_dir), pairs_dir=str(pairs_dir))
    process_batch(b1, 0, **kw)
    shutil.rmtree(index_dir / "docs")  # simulate the crash point

    process_batch(b1, 0, **kw)  # retry of the same batch succeeds
    assert (index_dir / "docs").is_dir()
    assert all(a != b for a, b in _pairs_set(spark, pairs_dir))


def test_half_index_from_other_batches_still_refused(spark, tmp_path):
    """A docs/ missing OTHER batches' shingle sets is an interrupted write
    of those batches — the next batch must refuse, not guess."""
    import shutil

    import pytest

    from thymeflow_back_spark.streaming.dedup_stream import process_batch

    index_dir, pairs_dir = tmp_path / "index", tmp_path / "pairs"
    kw = dict(index_dir=str(index_dir), pairs_dir=str(pairs_dir))
    process_batch(spark.createDataFrame(B1, ["doc_id", "text"]), 0, **kw)
    shutil.rmtree(index_dir / "docs")

    with pytest.raises(RuntimeError, match="incomplete"):
        process_batch(spark.createDataFrame(B2, ["doc_id", "text"]), 1, **kw)


def test_stream_crash_restart_matches_batch_operator(spark, tmp_path):
    """End-to-end restart: the stream commits batch 0, then a crashed
    attempt of the NEXT batch leaves bands written but docs missing
    (the worst half-written index). Restarting the stream from the same
    checkpoint must retry that batch against the half-written state and
    converge to EXACTLY the pair set the one-shot batch operator finds on
    the full corpus."""
    import shutil

    from thymeflow_back_spark.operators.dedup import jaccard_near_dups
    from thymeflow_back_spark.streaming.dedup_stream import process_batch

    staging = tmp_path / "staging"
    index_dir, pairs_dir, ckpt = tmp_path / "index", tmp_path / "pairs", tmp_path / "ckpt"

    spark.createDataFrame(B1, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(staging))
    _run(spark, staging, index_dir, pairs_dir, ckpt)

    # stage batch 2's file, then simulate its first attempt crashing after
    # the bands write: run the batch body directly (the stream checkpoint
    # has NOT committed it) and delete its docs partition
    spark.createDataFrame(B2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(staging))
    process_batch(
        spark.createDataFrame(B2, ["doc_id", "text"]),
        1,
        index_dir=str(index_dir),
        pairs_dir=str(pairs_dir),
    )
    shutil.rmtree(index_dir / "docs" / "batch_id=1")

    # restart from the same checkpoint: the stream reprocesses the new file
    # as batch 1, dynamically overwriting the crashed attempt's partitions
    _run(spark, staging, index_dir, pairs_dir, ckpt)

    corpus = spark.createDataFrame(B1 + B2, ["doc_id", "text"])
    batch_pairs = {
        frozenset((r.a_id, r.b_id)): (r.n_common, round(r.jaccard, 9))
        for r in jaccard_near_dups(corpus, "doc_id", "text", 3, 0.5).collect()
    }
    stream_pairs = {
        frozenset((r.a_id, r.b_id)): (r.n_common, round(r.jaccard, 9))
        for r in spark.read.parquet(str(pairs_dir)).collect()
    }
    assert stream_pairs == batch_pairs and batch_pairs
