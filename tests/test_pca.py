"""Exact Gram/scatter matrix (operators/pca.py) — the PCA primitive.

Checks: the quantized-integer scatter reproduces the float covariance to
quantization tolerance, and the published relation is invariant under
input partitioning (the exactness claim).
"""

from __future__ import annotations

import numpy as np
import pytest

from thymeflow_back_spark.operators.pca import gram_scatter, scatter_to_cov
from thymeflow_back_spark.tables import load

D = 64
SCALE = 10_000


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


def _collected(df):
    return [r.asDict() for r in df.collect()]


def test_gram_scatter_matches_numpy_covariance(spark, emb):
    rows = _collected(gram_scatter(emb, "embedding", scale=SCALE))
    cov = scatter_to_cov(rows, D, scale=SCALE)

    v = np.array([list(r.embedding) for r in emb.collect()], dtype=np.float64)
    ref = np.cov(v, rowvar=False, bias=True)
    # floor-quantization at SCALE perturbs each coordinate by < 1/SCALE;
    # covariance entries move by O(2 * |v|_max / SCALE)
    assert np.max(np.abs(cov - ref)) < 5e-4
    # and the quantized relation itself is exactly reproducible
    rows2 = _collected(gram_scatter(emb, "embedding", scale=SCALE))
    assert rows == rows2


def test_gram_scatter_partitioning_invariant(spark, emb):
    a = _collected(gram_scatter(emb.repartition(3), "embedding").orderBy("i", "j"))
    b = _collected(gram_scatter(emb.repartition(17), "embedding").orderBy("i", "j"))
    assert a == b


def test_gram_scatter_small_exact(spark):
    df = spark.createDataFrame(
        [(0, [0.5, -0.25]), (1, [0.1, 0.3]), (2, [-0.4, 0.2])],
        "id long, v array<double>",
    )
    rows = {(r.i, r.j): r for r in gram_scatter(df, "v", scale=10).collect()}
    # q vectors: (5,-3), (1,3), (-4,2); floor(-0.25*10) = -3, floor(0.2*10) = 2
    assert int(rows[(0, 0)].gram) == 25 + 1 + 16
    assert int(rows[(0, 1)].gram) == -15 + 3 - 8
    assert int(rows[(1, 1)].gram) == 9 + 9 + 4
    # scatter = n*G - s_i s_j with s = (2, 2), n = 3
    assert int(rows[(0, 0)].scatter) == 3 * 42 - 4
    assert int(rows[(0, 1)].scatter) == 3 * -20 - 4
    assert rows[(0, 0)].n_vecs == 3


def test_scatter_to_cov_empty_raises():
    with pytest.raises(ValueError):
        scatter_to_cov([], D)


def test_null_vectors_excluded(spark):
    df = spark.createDataFrame(
        [(0, [0.5, -0.25]), (1, None), (2, [0.1, 0.3])],
        "id long, v array<double>",
    )
    rows = gram_scatter(df, "v", scale=10).collect()
    assert rows and all(r.n_vecs == 2 for r in rows)
