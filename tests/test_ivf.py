"""IVF ANN: exactness when probing every cell, recall when probing few,
determinism of the content-addressed seeding + Lloyd refinement."""

from __future__ import annotations

from pyspark.sql import functions as F

from thymeflow_back_spark.operators.ivf import (
    ivf_topk,
    refine_centroids,
    seed_centroids,
)
from thymeflow_back_spark.operators.similarity import cosine_topk
from thymeflow_back_spark.tables import load

SF = "/root/testdata/sf0.001"
K = 5
N_QUERIES = 10


def _pairs(df):
    return {(r.q_id, r.c_id) for r in df.collect()}


def test_ivf_full_probe_equals_exact(spark):
    emb = load(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", K)
    full = ivf_topk(
        emb, queries, "vec_id", "embedding", K, n_cells=8, n_probe=8, refine_iters=1
    )
    assert {(r.q_id, r.c_id, r.score) for r in full.collect()} == {
        (r.q_id, r.c_id, r.score) for r in exact.collect()
    }


def test_ivf_partial_probe_recall(spark):
    emb = load(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _pairs(cosine_topk(emb, queries, "vec_id", "embedding", K))
    approx = _pairs(
        ivf_topk(emb, queries, "vec_id", "embedding", K, n_cells=8, n_probe=4)
    )
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"
    # probing fewer cells can only shrink the candidate set
    fewer = _pairs(ivf_topk(emb, queries, "vec_id", "embedding", K, n_cells=8, n_probe=1))
    assert len(exact & fewer) <= len(exact & approx) + 1


def test_ivf_deterministic(spark):
    emb = load(spark, SF, "embeddings")
    c1 = seed_centroids(emb, "vec_id", "embedding", 8)
    c2 = seed_centroids(emb, "vec_id", "embedding", 8)
    assert c1 == c2
    r1 = refine_centroids(emb, "vec_id", "embedding", c1, iterations=1)
    r2 = refine_centroids(emb, "vec_id", "embedding", c2, iterations=1)
    assert r1 == r2
    assert r1 != c1  # refinement moved the means
