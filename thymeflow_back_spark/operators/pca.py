"""Exact Gram / scatter matrix over an embedding column — the PCA primitive.

Embedding-space curation (PCA whitening, spectral diagnostics, energy
spectra, mean-centering for ANN indexes) starts from the d x d second-moment
matrix of the corpus. At 100 TB that matrix is the textbook map-side-combine
aggregation: every partition reduces its rows to ONE d x d partial (plus the
d-vector sum and a count), and the shuffle moves only
``n_partitions * d(d+1)/2`` rows — never the data. The naive alternative
(posexplode twice + self-join on the row id) shuffles n * d^2 rows and is
wrong at any scale.

Exactness discipline (the kmeans.py / AUC idiom): vectors are quantized once
as x = floor(v * scale) BIGINT (floor of an IEEE double is deterministic;
the quantization is part of the operator's definition), every accumulation
is integer, and the published relation carries

  gram_ij    = sum_rows x_i * x_j                     (upper triangle j >= i)
  scatter_ij = n * gram_ij - s_i * s_j                (s = per-dim sum)

as DECIMAL(38,0) — ``scatter / n^2 / scale^2`` is the centered covariance,
and dividing AFTER the exact integer arithmetic makes the float conversion a
single IEEE-rounded step any engine reproduces bit-for-bit.

Overflow bounds (documented, not checked per row): with |v| <= 1 and the
default scale 1e4, |x| <= 1e4, so a per-partition int64 Gram partial is safe
to ~9e18 / 1e8 = 9e10 rows per partition; the per-dim sums fit their
DECIMAL(19,0) casts to n ~ 1e14 rows (|s| <= scale * n), and every product
(s_i*s_j, n*gram <= scale^2 * n^2 = 1e36 at that n) stays inside exact
DECIMAL(38,0) / HUGEINT range — n ~ 1e14 is the documented envelope, still
two orders past the 4e11 vectors of a 100 TB float32/d=64 corpus. DuckDB
mirrors the arithmetic in HUGEINT.

No reference counterpart (thymeflow has no embedding analytics); the
operator extends the curation suite next to operators/kmeans.py and
operators/jl.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gram_partials(vec_col: str, scale: int):
    """mapInPandas stage: fold a partition into one upper-triangle Gram
    partial + per-dim sums + a row count, emitted as (i, j, p) rows with
    the sentinel encoding s_i -> (i, -1), n -> (-1, -1)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g: np.ndarray | None = None  # (d, d) int64
        s: np.ndarray | None = None  # (d,) int64
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(
                [np.asarray(row, dtype=np.float64) for row in pdf[vec_col]]
            )
            x = np.floor(v * scale).astype(np.int64)
            if g is None:
                d = x.shape[1]
                g = np.zeros((d, d), dtype=np.int64)
                s = np.zeros(d, dtype=np.int64)
            g += x.T @ x
            s += x.sum(axis=0)
            n += x.shape[0]
        if g is None:
            return
        d = g.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": np.concatenate([iu, np.arange(d), [-1]]),
                "j": np.concatenate([ju, np.full(d, -1), [-1]]),
                "p": np.concatenate([g[iu, ju], s, [n]]),
            }
        )

    return gen


def gram_scatter(
    df: DataFrame, vec_col: str, scale: int = 10_000
) -> DataFrame:
    """d x d exact Gram + centered scatter of ``vec_col``.

    Returns the upper triangle (j >= i): columns
    ``i, j, n_vecs (long), gram (decimal(38,0)), scatter (decimal(38,0))``
    where scatter_ij = n * gram_ij - s_i * s_j (n^2 * scale^2 times the
    centered covariance). One scan; the only shuffle carries
    O(partitions * d^2) partial rows.
    """
    from .cachereg import pin
    from .skew import spread_small_input

    # NULL vectors would reach numpy as object arrays and fail with an
    # opaque shape error — exclude them explicitly (n_vecs counts only
    # actual vectors, matching the oracle's non-null relation)
    parts = spread_small_input(
        df.select(vec_col).filter(F.col(vec_col).isNotNull())
    ).mapInPandas(_gram_partials(vec_col, scale), "i int, j int, p long")
    # three tiny consumers (gram / sums / count) over one map stage
    tot = pin(
        parts.groupBy("i", "j").agg(
            F.sum(F.col("p").cast("decimal(38,0)")).alias("v")
        )
    )
    g = tot.filter("i >= 0 AND j >= 0").select(
        "i", "j", F.col("v").alias("gram")
    )
    # s and n are bounded by the documented n ~ 1e14 envelope (|s| <=
    # scale*n < 1e19), so the (19,0) casts never overflow and every
    # product stays inside exact DECIMAL(38,0) range (<= 1e36)
    s = tot.filter("i >= 0 AND j = -1").select(
        F.col("i").alias("si"), F.col("v").cast("decimal(19,0)").alias("s")
    )
    n = tot.filter("i = -1").select(
        F.col("v").cast("decimal(19,0)").alias("n")
    )
    sa = s.select(F.col("si").alias("i"), F.col("s").alias("s_i"))
    sb = s.select(F.col("si").alias("j"), F.col("s").alias("s_j"))
    return (
        g.crossJoin(F.broadcast(n))
        .join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i",
            "j",
            F.col("n").cast("long").alias("n_vecs"),
            "gram",
            (F.col("n") * F.col("gram") - F.col("s_i") * F.col("s_j"))
            .cast("decimal(38,0)")
            .alias("scatter"),
        )
    )


def scatter_to_cov(
    rows: list, d: int, scale: int = 10_000
) -> np.ndarray:
    """Driver/test-side: reassemble the (i, j, n_vecs, scatter) relation
    into the dense float covariance matrix scatter / (n^2 * scale^2)."""
    cov = np.zeros((d, d), dtype=np.float64)
    n = None
    for r in rows:
        n = int(r["n_vecs"])
        v = float(r["scatter"])
        cov[r["i"], r["j"]] = v
        cov[r["j"], r["i"]] = v
    if n is None:
        raise ValueError("scatter_to_cov: empty relation")
    return cov / (float(n) ** 2 * float(scale) ** 2)
