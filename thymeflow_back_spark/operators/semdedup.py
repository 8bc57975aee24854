"""SemDeDup-style semantic deduplication over an embedding column.

Exact near-dup joins (operators/ann.py, queries/similarity.py) catch
byte-level and cosine-near copies; the SemDeDup recipe (Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication") additionally prunes *semantic* duplicates — documents whose
embeddings land in the same k-means cluster within a cosine radius of an
earlier-kept member, even when their token overlap is nil.

This implementation reuses the deterministic IVF coarse quantizer
(operators/ivf.py): content-addressed seed centroids (smallest md5(id)),
a fixed number of Lloyd refinements, map-side cell assignment against a
broadcast centroid matrix. Dedup then runs WITHIN each cell only:

  1. assign every vector to its nearest centroid (narrow, no shuffle),
  2. self-join the inverted file on the cell key (one shuffle keyed by
     cell; at 100 TB use n_cells ~ corpus_size / desired_cell_size so the
     per-cell pair work (n/k)^2 stays bounded — the paper's setting),
  3. a vector is pruned when ANY lower-id vector in the same cell has
     rounded cosine >= threshold; ``dup_of`` records the smallest such
     shadowing id. NOTE: the shadowing vector may itself be pruned by a
     still-lower id (a chain 1~2, 2~3 with 1!~3 prunes both 2 and 3, and
     3's dup_of is the pruned 2) — this order-free rule is deterministic
     and oracle-replayable, but it is chain-pruning, not the paper's
     greedy leader election (which would keep 3 above).

Scores are rounded to SCORE_DECIMALS before the threshold compare, so the
pipeline is bit-reproducible cross-engine (the DuckDB oracle replays
seeding, Lloyd refinement, assignment, and the in-cell pair scan in SQL).

Scale shape: the only data-sized shuffle is the cell-keyed self-join;
centroids are a k x d driver-side literal exactly like IVF search. Cell
skew is bounded by the quantizer (a pathological cell can be split by
raising n_cells or salting the join via operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import N_CELLS, ivf_assign, refine_centroids, seed_centroids
from .similarity import SCORE_DECIMALS, dot, norm


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_cells: int = N_CELLS,
    refine_iters: int = 1,
) -> DataFrame:
    """(vec_id, cell, keep, dup_of) for every corpus vector.

    ``keep`` is 1 for cluster representatives (no earlier same-cell vector
    within the cosine threshold), 0 for pruned semantic duplicates;
    ``dup_of`` is the lowest-id vector that shadows a pruned vector — it
    may itself be pruned when chains occur (see module docstring) — and -1
    for keepers (sentinel instead of NULL so downstream anti-joins and
    the value-hash compare never meet a nullable id).
    """
    cents = seed_centroids(corpus, id_col, vec_col, n_cells)
    if refine_iters:
        cents = refine_centroids(corpus, id_col, vec_col, cents, refine_iters)
    inv = ivf_assign(corpus, id_col, vec_col, cents)  # (c_id, cell, c_vec)

    a = inv.select(
        F.col("c_id").alias("a_id"), "cell", F.col("c_vec").alias("a_vec")
    )
    b = inv.select(
        F.col("c_id").alias("b_id"), "cell", F.col("c_vec").alias("b_vec")
    )
    score = F.round(
        dot(F.col("a_vec"), F.col("b_vec"))
        / (norm(F.col("a_vec")) * norm(F.col("b_vec"))),
        SCORE_DECIMALS,
    )
    dups = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("b_id", score.alias("score"), "a_id")
        .filter(F.col("score") >= threshold)
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
    )
    return (
        inv.select(F.col("c_id").alias("vec_id"), "cell")
        .join(dups, F.col("vec_id") == F.col("b_id"), "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("dup_of").isNull(), 1).otherwise(0).cast("int").alias("keep"),
            F.coalesce(F.col("dup_of"), F.lit(-1).cast("bigint")).alias("dup_of"),
        )
    )
