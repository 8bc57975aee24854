"""IVF-PQ: product-quantized residuals over the IVF coarse quantizer.

The canonical billion-scale ANN layout (FAISS IVFPQ; Jégou et al. 2011
§IV): a coarse quantizer routes each vector to a cell, and PQ encodes the
RESIDUAL v - centroid(cell) — residual magnitudes are much smaller than
raw vectors, so the same code budget quantizes far more precisely. At
100 TB the index is (cell, m codes) per vector — bytes, not KBs — cells
partition-prune the probe (the cell-partitioned layout of
streaming/ivf_stream.py), and candidates cost m table lookups each, never a d-dim dot.

Composition of proven parts: the coarse step IS operators/ivf.py
(content-addressed seeds + exact-sum Lloyd refinement); the code step IS
operators/pq.py over residual vectors; ADC search is pq's broadcast
lookup-join shape with the table keyed by (query, PROBED CELL) since each
cell has its own residual frame.

Plan-size discipline: centroids and codebooks enter the plan as ONE-row
broadcast relations (operators/pq.codebook_row and _cents_row here), and
every distance is the column-anchored ordered fold pq._dot_col. The
first cut of this module unrolled them as literal expression trees; the
ADC joins on derived code columns then made the optimizer's IsNotNull
pushdown substitute those trees multiplicatively — a 119 MB optimized
plan, 260 MB task binaries, and whole-stage codegen compile failures.
Data-anchored, the same query plans in ~100 KB.

Determinism note — why the residual codebooks take ZERO Lloyd rounds:
IVF's Lloyd refinement is exact because raw float32-origin values sum
exactly in any order (24-bit mantissas, bounded exponents). Residuals
subtract a Lloyd MEAN (full 53-bit mantissa), so residual values occupy
the whole double grid and their sums become order-dependent — a Lloyd
round over residuals would produce engine- and partitioning-dependent
codebooks. Content-addressed seed residuals (the k smallest-md5(id)
vectors' residuals, sliced per subspace) involve no aggregation at all,
so the entire index is a pure function of the data. Every remaining
arithmetic step is single-op IEEE (subtract, product, chained sums), and
ADC sums are chained in subspace order — bit-reproducible anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ivf import refine_centroids, seed_centroids
from .cachereg import pin
from .pq import _dot_col, _scores_col, _with_subvectors, codebook_row, pq_codebooks
from .similarity import SCORE_DECIMALS, as_double_array


def _cents_row(spark, cents: list[list[float]]) -> DataFrame:
    """ONE-row centroid relation (cents array<array<double>>) — same
    data-not-literals rationale as pq.codebook_row."""
    return spark.createDataFrame(
        [([list(map(float, c)) for c in cents],)], "cents: array<array<double>>"
    )


def _residual(vec: Column, cell: Column) -> Column:
    """v - cents[cell], elementwise (exact single-op IEEE subtracts) over
    the one-row centroid column."""
    return F.zip_with(vec, F.element_at("cents", cell + 1), lambda a, b: a - b)


def _assign(corpus: DataFrame, id_col: str, vec_col: str, cents_df: DataFrame) -> DataFrame:
    """(c_id, cell, c_vec, cents) — coarse assignment against the one-row
    centroid relation; max centroid dot, lowest cell on ties (ivf_assign
    parity: bit-identical dots, same argmax tie-break)."""
    from .skew import spread_small_input

    v = as_double_array(F.col(vec_col))
    # interpreted per-row dot transform: spread a narrow scan (no-op when wide)
    scored = spread_small_input(corpus).crossJoin(F.broadcast(cents_df)).select(
        F.col(id_col).alias("c_id"),
        v.alias("c_vec"),
        F.col("cents"),
        F.transform("cents", lambda c: _dot_col(c, v)).alias("scores"),
    )
    return scored.select(
        "c_id",
        (F.array_position(F.col("scores"), F.array_max(F.col("scores"))) - 1)
        .cast("int")
        .alias("cell"),
        "c_vec",
        "cents",
    )


def ivfpq_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    m: int,
    k: int,
    refine_iters: int = 1,
):
    """(cents, books, codes): the coarse centroids, the residual codebooks
    (seed-only — see module note), and the encoded corpus
    (c_id, cell, code0..code{m-1})."""
    cents = seed_centroids(corpus, id_col, vec_col, n_cells)
    if refine_iters:
        cents = refine_centroids(corpus, id_col, vec_col, cents, refine_iters)
    cents_df = _cents_row(corpus.sparkSession, cents)
    inv = _assign(corpus, id_col, vec_col, cents_df)
    resid = inv.select(
        "c_id", "cell", _residual(F.col("c_vec"), F.col("cell")).alias("r")
    )
    books = pq_codebooks(resid, "c_id", "r", m=m, k=k, iterations=0)
    sub_d = len(books[0][0])
    bdf = codebook_row(corpus.sparkSession, books)
    hoisted = _with_subvectors(
        resid.crossJoin(F.broadcast(bdf)), "c_id", "r", m, sub_d,
        carry=("cell", "books", "ccs"),
    )
    scored = hoisted.select(
        "c_id", "cell", *[_scores_col(j).alias(f"scores{j}") for j in range(m)]
    )
    codes = scored.select(
        "c_id",
        "cell",
        *[
            (F.array_position(F.col(f"scores{j}"), F.array_min(F.col(f"scores{j}"))) - 1)
            .cast("int")
            .alias(f"code{j}")
            for j in range(m)
        ],
    )
    # Materialize the (cell, codes) table: the index is a write-once
    # artifact at scale, and a lazy code relation re-evaluates the
    # interpreted argmin trees once per downstream ADC join via inferred
    # IsNotNull(code_j) pushdown (see pq.pq_adc_topk — measured 5× there).
    return cents, books, pin(codes)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k_results: int,
    n_cells: int,
    n_probe: int,
    m: int,
    k: int,
    refine_iters: int = 1,
) -> DataFrame:
    """Per-query ADC top-k over the probed cells: (q_id, c_id, adc_dist, rank).

    Probe rule matches ivf_topk (n_probe cells by centroid dot, cell index
    on ties). The ADC table is (q_id, cell, code, term) per subspace —
    queries × n_probe × k rows, broadcast; candidates are the probed
    cells' code rows joining m tables map-side with zero shuffle, then a
    per-query top-k window. Self-matches are excluded (ivf_topk parity).
    """
    cents, books, codes = ivfpq_index(
        corpus, id_col, vec_col, n_cells, m, k, refine_iters
    )
    sub_d = len(books[0][0])
    spark = corpus.sparkSession
    cents_df = _cents_row(spark, cents)
    qv = queries.select(
        F.col(id_col).alias("q_id"), as_double_array(F.col(vec_col)).alias("q_v")
    ).crossJoin(F.broadcast(cents_df))
    wprobe = Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.asc("cell"))
    probe = (
        qv.select(
            "q_id",
            "q_v",
            "cents",
            F.posexplode(
                F.transform("cents", lambda c: _dot_col(c, F.col("q_v")))
            ).alias("cell", "cscore"),
        )
        .withColumn("prn", F.row_number().over(wprobe))
        .filter(F.col("prn") <= n_probe)
        .select("q_id", "q_v", "cents", "cell")
    )
    qres = probe.select(
        "q_id", "cell", _residual(F.col("q_v"), F.col("cell")).alias("r")
    )
    qh = _with_subvectors(
        qres.crossJoin(F.broadcast(codebook_row(spark, books))),
        "q_id",
        "r",
        m,
        sub_d,
        carry=("cell", "books", "ccs"),
    )
    # per (q_id, cell) one row carrying the FULL m×k term matrix
    # (terms[j][code]) — ONE broadcast instead of an m-join chain; the
    # probed cells' code rows stream through per-row array lookups
    qterms = qh.select(
        "q_id", "cell", F.array(*[_scores_col(j) for j in range(m)]).alias("__terms")
    )
    pairs = codes.withColumnRenamed("c_id", "vec_id").join(
        F.broadcast(qterms), "cell"
    ).filter(F.col("vec_id") != F.col("q_id"))
    # terms[j][code_j]: identical doubles to the per-subspace join lookups,
    # chained in subspace order, never an unordered SUM
    adc = F.element_at(F.element_at("__terms", 1), F.col("code0") + 1)
    for j in range(1, m):
        adc = adc + F.element_at(
            F.element_at("__terms", j + 1), F.col(f"code{j}") + 1
        )
    w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        pairs.withColumn("adc_dist", F.round(adc, SCORE_DECIMALS))
        .select("q_id", "vec_id", "cell", "adc_dist")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_results)
    )
