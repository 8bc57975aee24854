"""IVF (inverted-file) approximate nearest neighbors.

The second scale path for embedding similarity search next to SRP-LSH
(operators/ann.py); operators/similarity.py stays the exact baseline.

Index: a coarse quantizer of ``n_cells`` centroids partitions the corpus —
every vector is assigned to its nearest centroid (map-side only: the
centroid matrix is a broadcast literal, the assignment an argmax of
``n_cells`` dot products inside whole-stage codegen). Search probes the
``n_probe`` cells nearest to each query and computes exact cosine against
those cells' vectors only, so per-query work drops by ~n_cells/n_probe.

Determinism: seed centroids are the corpus vectors with the ``n_cells``
smallest md5(id) values (a content-addressed "random" sample), optionally
refined by a fixed number of Lloyd iterations (assignment tie-breaks by
cell index, means are exact elementwise averages) — same data, same index,
every run. Only the k×d centroid matrix ever reaches the driver; corpus
vectors stay distributed.

At 100 TB: the assignment pass is a narrow scan; the per-cell layout is
made physical by writing the corpus partitioned by cell (the streaming
index, streaming/ivf_stream.py, does), after which a probe reads only
n_probe partitions (partition pruning does the fan-out reduction the
in-memory cell join does here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import SCORE_DECIMALS, as_double_array, dot, norm

N_CELLS = 16
N_PROBE = 4


def _centroids_lit(centroids: list[list[float]]) -> Column:
    """All centroids as ONE array<array<double>> literal via a single
    F.expr parse — the k×d F.lit tree costs ~1.5-2 s of py4j driver time
    per construction (see similarity.sql_double_array_2d)."""
    from .similarity import sql_double_array_2d

    return F.expr(sql_double_array_2d(centroids))


def seed_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_cells: int = N_CELLS
) -> list[list[float]]:
    """Deterministic content-addressed seed sample: n_cells vectors with the
    smallest md5(id)."""
    rows = (
        corpus.select(
            F.md5(F.col(id_col).cast("string")).alias("h"),
            as_double_array(F.col(vec_col)).alias("v"),
        )
        .orderBy("h")
        .limit(n_cells)
        .collect()
    )
    return [list(r.v) for r in rows]


def _cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array of centroid·vec, one element per cell.

    Each dot subtree appears exactly ONCE — argmax and probe selection then
    reference the materialized array column, keeping the expression tree
    linear in n_cells (a when-chain argmax re-embeds every previous dot and
    goes quadratic, which stalls Catalyst for tens of seconds).

    The centroid matrix rides as ONE 2-d literal (single F.expr parse)
    and the per-cell dots come from a transform over it — same
    zip_with/aggregate fold per element as the former
    array-of-dot(_centroid_lit(c), vec) tree, so scores are
    bit-identical, but construction is ~10 py4j calls instead of
    ~3·k·d."""
    return F.transform(_centroids_lit(centroids), lambda c: dot(c, vec))


def _argmax_cell(scores: Column) -> Column:
    """First index of the maximum (lowest cell index wins ties)."""
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def refine_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    iterations: int = 1,
) -> list[list[float]]:
    """Fixed Lloyd iterations. Per-cell means come from d per-dimension SUM
    aggregates over unexploded rows — one shuffle of n rows (k rows × d
    columns after map-side partial aggregation), not the n·d row blow-up a
    posexplode would shuffle. Only the k×d means are collected. Empty cells
    keep their previous centroid."""
    dims = len(centroids[0])
    for _ in range(iterations):
        assigned = corpus.select(
            as_double_array(F.col(vec_col)).alias("v"),
            _cell_scores(as_double_array(F.col(vec_col)), centroids).alias("scores"),
        ).select("v", _argmax_cell(F.col("scores")).alias("cell"))
        sums = (
            assigned.groupBy("cell")
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.element_at("v", i + 1)).alias(f"s{i}") for i in range(dims)],
            )
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in sums:
            new[r["cell"]] = [r[f"s{i}"] / r["n"] for i in range(dims)]
        centroids = new
        assert all(len(c) == dims for c in centroids)
    return centroids


def ivf_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """(c_id, cell, c_vec) — the inverted file, computed map-side."""
    from .skew import spread_small_input

    # the per-row cell argmax is an interpreted n_cells-dot expression —
    # spread a narrow scan so it parallelizes (no-op on a wide scan)
    corpus = spread_small_input(corpus)
    v = as_double_array(F.col(vec_col))
    return corpus.select(
        F.col(id_col).alias("c_id"),
        v.alias("c_vec"),
        _cell_scores(v, centroids).alias("scores"),
    ).select("c_id", _argmax_cell(F.col("scores")).alias("cell"), "c_vec")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_cells: int = N_CELLS,
    n_probe: int = N_PROBE,
    refine_iters: int = 1,
    query_id_col: str = "q_id",
) -> DataFrame:
    """IVF top-k: (q_id, c_id, score, rank) — exact cosine within the
    n_probe nearest cells per query; self-matches excluded. With
    n_probe == n_cells this equals the exact baseline (probing everything),
    which is the property the tests pin."""
    centroids = seed_centroids(corpus, id_col, vec_col, n_cells)
    if refine_iters:
        centroids = refine_centroids(corpus, id_col, vec_col, centroids, refine_iters)
    inverted = ivf_assign(corpus, id_col, vec_col, centroids)

    # per-query probe list: sort (score, cell) structs desc, keep n_probe
    qv = as_double_array(F.col(vec_col))
    # struct desc-sort compares fields left to right, so storing -cell makes
    # the tie-break "lowest cell index first" (matching the assignment's);
    # scores is a NAMED column so every struct references it as a leaf
    ranked = F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda i: F.struct(
            F.element_at(F.col("scores"), i + 1).alias("s"), (-i).alias("negcell")
        ),
    )
    probes = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            qv.alias("q_vec"),
            _cell_scores(qv, centroids).alias("scores"),
        )
        .select(
            query_id_col,
            "q_vec",
            F.explode(
                F.slice(F.sort_array(ranked, asc=False), 1, n_probe).getField("negcell")
            ).alias("negcell"),
        )
        .select(query_id_col, "q_vec", (-F.col("negcell")).alias("cell"))
    )

    score = F.round(
        dot(F.col("q_vec"), F.col("c_vec")) / (norm(F.col("q_vec")) * norm(F.col("c_vec"))),
        SCORE_DECIMALS,
    )
    scored = (
        inverted.join(F.broadcast(probes), "cell")
        .filter(F.col(query_id_col) != F.col("c_id"))
        .select(query_id_col, "c_id", score.alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
