"""Upsert-aware incremental near-dup (streaming/upsert_dedup.py)."""

from __future__ import annotations

import os

import pytest

from thymeflow_back_spark.streaming.dedup_stream import document_stream
from thymeflow_back_spark.streaming.upsert_dedup import (
    current_near_dups,
    run_upsert_near_dup,
)

pytestmark = pytest.mark.slow

TXT_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
TXT_B = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
TXT_X = "one two three four five six seven eight nine ten"


def _run_batches(spark, base, batches):
    staging = os.path.join(base, "staging")
    index = os.path.join(base, "index")
    pairs = os.path.join(base, "pairs")
    ckpt = os.path.join(base, "ckpt")
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(staging)
        q = run_upsert_near_dup(
            document_stream(spark, staging), index, pairs, ckpt
        )
        q.awaitTermination()
    return current_near_dups(spark, index, pairs)


def _pairs(df):
    return {(r.a_id, r.b_id) for r in df.collect()}


def test_update_invalidates_then_update_back_restores(spark, tmp_path):
    # batch0: A ~ B near-dups; batch1: B rewritten to unrelated text ->
    # the pair must VANISH from the current view with no retraction
    # write; batch2: B re-delivered as a near-dup again -> pair returns
    # (emitted by the cross path against A's surviving v0 entry)
    out = _run_batches(
        spark,
        str(tmp_path),
        [
            [(1, TXT_A), (2, TXT_B)],
            [(2, TXT_X)],
            [(2, TXT_B)],
        ],
    )
    assert _pairs(out) == {(1, 2)}

    # and the intermediate state: replay only the first two batches
    out2 = _run_batches(
        spark,
        str(tmp_path / "two"),
        [
            [(1, TXT_A), (2, TXT_B)],
            [(2, TXT_X)],
        ],
    )
    assert _pairs(out2) == set()


def test_stale_middle_version_never_matches(spark, tmp_path):
    # doc 1's MIDDLE version matches doc 9's text, but is superseded
    # before doc 9 arrives — the stale band entries must not produce a
    # surviving pair, while the final version's genuine match does
    out = _run_batches(
        spark,
        str(tmp_path),
        [
            [(1, TXT_A)],
            [(1, TXT_X)],  # middle version, matches doc 9
            [(1, TXT_A)],  # final version, matches doc 8
            [(8, TXT_B), (9, TXT_X)],
        ],
    )
    got = _pairs(out)
    assert (1, 8) in got
    assert (1, 9) not in got


def test_orientation_normalized_after_update(spark, tmp_path):
    # pair first emitted within-batch as (5, 9); doc 5's re-delivery
    # (identical text -> every band collides, recall guaranteed)
    # re-emits it via the cross path with 9 on the a side — the current
    # view must still present it once, as (5, 9)
    out = _run_batches(
        spark,
        str(tmp_path),
        [
            [(5, TXT_A), (9, TXT_B)],
            [(5, TXT_B)],
        ],
    )
    rows = out.collect()
    assert {(r.a_id, r.b_id) for r in rows} == {(5, 9)}
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_zero_pair_batches_read_as_empty_view(spark, tmp_path):
    # every batch emits ZERO pairs -> the pairs log holds only _SUCCESS
    # markers under batch_id= dirs (no parquet footers); the current view
    # must read as an empty relation, not fail schema inference
    # (round-9 advice fix)
    out = _run_batches(
        spark,
        str(tmp_path),
        [
            [(1, TXT_A)],
            [(2, TXT_X)],  # unrelated text — no cross-batch pair either
        ],
    )
    assert out.count() == 0
    assert set(out.columns) == {"a_id", "b_id", "n_common", "jaccard"}
