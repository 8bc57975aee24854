"""Similarity-search queries over the embeddings table (64-dim float vectors).

Brute-force cosine top-k (exact baseline) and a label-centroid classification
check. The DuckDB oracle reproduces the same rounded scores via
list_dot_product over double-cast lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import cosine_topk
from ..tables import load
from .catalog import query

N_QUERIES = 10  # vec_id < 10 are the probe set
TOP_K = 5


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM vecs WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.q_id, c.vec_id AS c_id,
             round(
               list_dot_product(q.q_vec, c.v)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))),
               9
             ) AS score
      FROM vecs c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, c_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      FROM scored
    )
    SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= {TOP_K}
    ORDER BY q_id, rank
    """,
    bench=True,
    doc="Brute-force cosine top-5 neighbors for 10 probe vectors: broadcast "
    "cross join + windowed top-k; scores rounded to 9 decimals for "
    "cross-engine determinism.",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return cosine_topk(emb, queries, "vec_id", "embedding", TOP_K).orderBy("q_id", "rank")


NEAR_DUP_THRESHOLD = 0.4


@query(
    "q_embedding_near_dup",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(
               list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
               9
             ) AS score
      FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, score FROM scored
    WHERE score >= {NEAR_DUP_THRESHOLD}
    ORDER BY a_id, b_id
    """,
    doc="Embedding-cosine near-duplicate pairs (exact all-pairs baseline; "
    "operators/ann.py provides the SRP-LSH scale path verified against this "
    "in tests).",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import as_double_array, dot, norm

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        as_double_array(F.col("embedding")).alias("v"),
        norm(as_double_array(F.col("embedding"))).alias("n"),
    )
    a = vecs.select(F.col("id").alias("a_id"), F.col("v").alias("a_v"), F.col("n").alias("a_n"))
    b = vecs.select(F.col("id").alias("b_id"), F.col("v").alias("b_v"), F.col("n").alias("b_n"))
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n")), 9).alias("score"),
        )
        .filter(F.col("score") >= NEAR_DUP_THRESHOLD)
        .orderBy("a_id", "b_id")
    )


EMB_DIMS = 64


def _srp_sig_sql() -> str:
    """The SRP signature as DuckDB SQL: same md5-derived hyperplanes as
    operators/ann.py, so the oracle replays the LSH algorithm itself."""
    from ..operators.ann import N_PLANES, _plane_component

    terms = []
    for p in range(N_PLANES):
        arr = ", ".join(repr(_plane_component(p, d)) for d in range(EMB_DIMS))
        terms.append(
            f"(CASE WHEN list_dot_product(v, [{arr}]) >= 0 "
            f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
        )
    return " + ".join(terms)


def _ann_edges_ctes() -> str:
    """The shared SRP-LSH replay CTEs (vecs/sigs/bands/cands/scored) —
    the candidate generation + exact-cosine verify both the ANN near-dup
    oracle and the semantic-components oracle chain from."""
    from ..operators.ann import BANDS, N_PLANES

    rows = N_PLANES // BANDS
    mask = (1 << rows) - 1
    return f"""
    vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    sigs AS (SELECT vec_id, {_srp_sig_sql()} AS sig FROM vecs),
    bands AS (
      SELECT vec_id, band, (sig >> (band * {rows})) & {mask} AS bkey
      FROM sigs CROSS JOIN (SELECT unnest(range({BANDS})) AS band) b
    ),
    cands AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT a_id, b_id,
             round(
               list_dot_product(va.v, vb.v)
               / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))),
               9
             ) AS score
      FROM cands
      JOIN vecs va ON va.vec_id = a_id
      JOIN vecs vb ON vb.vec_id = b_id
    )"""


def _ann_oracle() -> str:
    return (
        "\n    WITH "
        + _ann_edges_ctes()
        + f"""
    SELECT a_id, b_id, score FROM scored
    WHERE score >= {NEAR_DUP_THRESHOLD}
    ORDER BY a_id, b_id
    """
    )


@query(
    "q_embedding_near_dup_ann",
    oracle=_ann_oracle(),
    doc="SRP-LSH near-dup — the SCALE path for q_embedding_near_dup: 16-bit "
    "signed-random-projection signatures, 4 banded buckets, exact-cosine "
    "verification on candidates only. The oracle replays the identical "
    "deterministic algorithm (md5-derived hyperplanes as SQL literals) in "
    "DuckDB, so the whole LSH pipeline is cross-engine checked end-to-end.",
)
def q_embedding_near_dup_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import srp_near_dup

    emb = load(spark, sf_dir, "embeddings")
    return (
        srp_near_dup(emb, "vec_id", "embedding", EMB_DIMS, NEAR_DUP_THRESHOLD)
        .orderBy("a_id", "b_id")
    )


@query(
    "q_semantic_components",
    oracle="\n    WITH RECURSIVE "
    + _ann_edges_ctes()
    + f""",
    pairs AS (
      SELECT a_id, b_id FROM scored WHERE score >= {NEAR_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT a_id AS s, b_id AS d FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (SELECT s AS node, MIN(d) AS mn FROM reach GROUP BY s),
    labeled AS (
      SELECT e.vec_id,
             LEAST(COALESCE(c.mn, e.vec_id), e.vec_id) AS component
      FROM vecs e LEFT JOIN comp c ON e.vec_id = c.node
    ),
    csizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM labeled GROUP BY 1
    ),
    ranked AS (
      SELECT l.vec_id, l.component, s.cluster_size, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY l.component
               ORDER BY d.n_chars DESC, l.vec_id ASC
             ) AS rn
      FROM labeled l
      JOIN csizes s USING (component)
      JOIN documents d ON d.doc_id = l.vec_id
    )
    SELECT vec_id AS keep_id, component, cluster_size, n_chars
    FROM ranked WHERE rn = 1
    ORDER BY component
    """,
    bench=True,
    doc="ε-NN SEMANTIC DEDUP at the cluster level — the production "
    "composition SemDeDup's one-per-k-means-cluster policy approximates: "
    "SRP-LSH candidate pairs -> exact cosine >= τ edges -> connected "
    "components over the ε-NN graph (large-star/small-star, O(log^2 n) "
    "rounds) -> keep the HIGHEST-quality member per component (longest "
    "source document, ties to smallest id — the dedup_keep_best struct-MAX "
    "argmax, never a per-cluster window sort). Vectors with no ε-neighbor "
    "are singleton components and survive. Scale: candidates are banded "
    "equi-joins (no all-pairs), components shrink edges per round with "
    "localCheckpoint, the quality join is vector-count-sized, and the "
    "argmax is one aggregate. The oracle chains the SRP replay, recursive "
    "reachability, and the ranked argmax as one CTE pipeline. "
    "operators/ann.py + operators/closure.py + the keep-best policy.",
)
def q_semantic_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import srp_near_dup
    from ..operators.cachereg import pin
    from ..operators.closure import connected_components_star

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    # pin the verified ε-NN edges: star-CC's node inventory and its round
    # iterations both consume them, and without the pin each consumer
    # re-derives the whole SRP band/verify pipeline
    edges = pin(
        srp_near_dup(
            emb, "vec_id", "embedding", EMB_DIMS, NEAR_DUP_THRESHOLD
        ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    comps = connected_components_star(edges)
    # labeled feeds the size aggregate AND the quality argmax
    labeled = pin(
        emb.select("vec_id")
        .join(comps.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.least(
                F.coalesce(F.col("component"), F.col("vec_id")),
                F.col("vec_id"),
            ).alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    quality = docs.select(F.col("doc_id").alias("vec_id"), "n_chars")
    return (
        labeled.join(quality, "vec_id")
        .join(sizes, "component")
        .groupBy("component", "cluster_size")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars").alias("q"),
                    (-F.col("vec_id")).alias("negid"),
                )
            ).alias("m")
        )
        .select(
            (-F.col("m.negid")).alias("keep_id"),
            "component",
            "cluster_size",
            F.col("m.q").alias("n_chars"),
        )
        .orderBy("component")
    )


@query(
    "q_label_centroid_stats",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    norms AS (
      SELECT vec_id, label, sqrt(list_dot_product(v, v)) AS vnorm FROM vecs
    )
    SELECT label,
           COUNT(*) AS n_vectors,
           round(MIN(vnorm), 9) AS min_norm,
           round(MAX(vnorm), 9) AS max_norm
    FROM norms
    GROUP BY label
    ORDER BY label
    """,
    doc="Per-label vector stats (count + norm range) — the embedding-column "
    "profiling pass a pipeline runs before ANN indexing.",
)
def q_label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import as_double_array, norm

    emb = load(spark, sf_dir, "embeddings")
    vnorm = norm(as_double_array(F.col("embedding")))
    return (
        emb.select("label", vnorm.alias("vnorm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.min("vnorm"), 9).alias("min_norm"),
            F.round(F.max("vnorm"), 9).alias("max_norm"),
        )
        .orderBy("label")
    )


IVF_CELLS = 8
IVF_PROBE = 2
IVF_QUERIES = 20
IVF_K = 5


def _ivf_index_cte(
    n_cells: int,
    vecs_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
    train_sql: str | None = None,
) -> str:
    """Shared oracle prefix replaying the deterministic IVF index build
    (operators/ivf.py): content-addressed seeds -> one Lloyd refinement ->
    inverted file. Used by q_similarity_ivf and q_semantic_dedup so both
    oracles check the identical quantizer. ``vecs_sql`` overrides the
    corpus relation; ``train_sql`` (optional) trains the quantizer on a
    DIFFERENT relation than the one indexed — the streaming-upsert form,
    where centroids freeze on the first batch while the inverted file
    tracks the whole evolving corpus."""
    tv = "tvecs" if train_sql is not None else "vecs"
    head = f"""
    WITH vecs AS ({vecs_sql}),"""
    if train_sql is not None:
        head += f"""
    tvecs AS ({train_sql}),"""
    return head + f"""
    seeds AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell, v
      FROM {tv}
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {n_cells}
    ),
    assign0 AS (
      SELECT vec_id, v, cell FROM (
        SELECT {tv}.vec_id, {tv}.v, seeds.cell,
               row_number() OVER (
                 PARTITION BY {tv}.vec_id
                 ORDER BY list_dot_product(seeds.v, {tv}.v) DESC, seeds.cell
               ) AS rn
        FROM {tv} CROSS JOIN seeds) WHERE rn = 1
    ),
    means AS (
      SELECT cell, i, avg(v[i]) AS m
      FROM assign0, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) s
      GROUP BY cell, i
    ),
    cmeans AS (SELECT cell, list(m ORDER BY i) AS v FROM means GROUP BY cell),
    cents AS (
      SELECT s.cell, COALESCE(c.v, s.v) AS v
      FROM seeds s LEFT JOIN cmeans c USING (cell)
    ),
    inverted AS (
      SELECT vec_id, v, cell FROM (
        SELECT vecs.vec_id, vecs.v, cents.cell,
               row_number() OVER (
                 PARTITION BY vecs.vec_id
                 ORDER BY list_dot_product(cents.v, vecs.v) DESC, cents.cell
               ) AS rn
        FROM vecs CROSS JOIN cents) WHERE rn = 1
    )"""


@query(
    "q_similarity_ivf",
    oracle=_ivf_index_cte(IVF_CELLS)
    + f""",
    q AS (SELECT vec_id AS q_id, v AS q_v FROM vecs WHERE vec_id < {IVF_QUERIES}),
    probe AS (
      SELECT q_id, q_v, cell FROM (
        SELECT q.q_id, q.q_v, cents.cell,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_dot_product(cents.v, q.q_v) DESC, cents.cell
               ) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= {IVF_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id AS c_id,
             round(
               list_dot_product(p.q_v, a.v)
               / (sqrt(list_dot_product(p.q_v, p.q_v)) * sqrt(list_dot_product(a.v, a.v))),
               9
             ) AS score
      FROM probe p JOIN inverted a ON p.cell = a.cell AND a.vec_id <> p.q_id
    )
    SELECT q_id, c_id, score, rank FROM (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      FROM scored)
    WHERE rank <= {IVF_K}
    ORDER BY q_id, rank
    """,
    doc="IVF approximate top-k: content-addressed seed centroids + one "
    "Lloyd refinement, map-side cell assignment (broadcast centroid "
    "matrix), probe the 2 nearest of 8 cells per query, exact cosine on "
    "probed cells only. The oracle replays the whole index build in SQL — "
    "seeding, refinement, assignment, probing — so the approximate result "
    "itself is value-checked, not just the exact-probe degenerate case.",
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivf import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < IVF_QUERIES)
    return ivf_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        IVF_K,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        refine_iters=1,
    ).orderBy("q_id", "rank")


# --- Q: streaming IVF index maintenance (upsert-aware vector ingestion) --------

IVF_UPD_MOD = 10  # vec_id % 10 == 0 is RE-EMBEDDED (negated) in the last batch

_IVF_UPSERT_VECS = f"""SELECT vec_id,
             CASE WHEN vec_id % {IVF_UPD_MOD} = 0
                  THEN list_transform(embedding::DOUBLE[], x -> -x)
                  ELSE embedding::DOUBLE[] END AS v
      FROM embeddings"""

_IVF_BATCH0_VECS = (
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    " WHERE vec_id % 3 = 0"
)


@query(
    "q_streaming_ivf_upsert",
    oracle=_ivf_index_cte(
        IVF_CELLS, vecs_sql=_IVF_UPSERT_VECS, train_sql=_IVF_BATCH0_VECS
    )
    + f""",
    q AS (SELECT vec_id AS q_id, v AS q_v FROM vecs WHERE vec_id < {IVF_QUERIES}),
    probe AS (
      SELECT q_id, q_v, cell FROM (
        SELECT q.q_id, q.q_v, cents.cell,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_dot_product(cents.v, q.q_v) DESC, cents.cell
               ) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= {IVF_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id AS c_id,
             round(
               list_dot_product(p.q_v, a.v)
               / (sqrt(list_dot_product(p.q_v, p.q_v)) * sqrt(list_dot_product(a.v, a.v))),
               9
             ) AS score
      FROM probe p JOIN inverted a ON p.cell = a.cell AND a.vec_id <> p.q_id
    )
    SELECT q_id, c_id, score, rank FROM (
      SELECT q_id, c_id, score,
             row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      FROM scored)
    WHERE rank <= {IVF_K}
    ORDER BY q_id, rank
    """,
    doc="STREAMING IVF index maintenance, value-checked end to end: "
    "vectors arrive as four micro-batches — three initial loads plus a "
    f"RE-EMBEDDING batch (every {IVF_UPD_MOD}th vector re-delivered "
    "negated, last writer wins). The coarse quantizer freezes on the "
    "FIRST batch (committed write-once JSON — the production pattern: "
    "quantizers retrain offline, never per insert); each batch assigns "
    "map-side against it and appends (batch_id, cell)-partitioned rows "
    "with dynamic overwrite; search probes the nearest cells of the "
    "CURRENT view (max-batch version per id, the upsert_dedup read "
    "discipline — a re-embedded vector that moved cells supersedes its "
    "stale entry). With the quantizer fixed, streamed top-k == batch "
    "IVF over the upserted corpus with the same centroids; the oracle "
    "replays exactly that (trained on batch 0, indexing the upserted "
    "corpus; streaming/ivf_stream.py).",
)
def q_streaming_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.ivf_stream import (
        compact_ivf_index,
        current_ivf_topk,
        current_ivf_view,
        run_streaming_ivf,
    )

    base = tempfile.mkdtemp(prefix="tf_stream_ivf_")
    staging = os.path.join(base, "staging")
    index = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    emb = load(spark, sf_dir, "embeddings")

    # This row is order-SENSITIVE (batch 0 trains the frozen quantizer;
    # the re-embedding batch must get the max batch_id for last-writer-
    # wins), and FileStreamSource orders files by MODIFICATION TIME — an
    # mtime tie between sequentially appended files could reorder the
    # batches. Stamp strictly increasing mtimes explicitly after each
    # write so the dependency is in code, not in filesystem timing.
    def _stamp(seq: int, seen=set()):  # noqa: B006 - intentional accumulator
        for name in os.listdir(staging):
            p = os.path.join(staging, name)
            if name.endswith(".parquet") and p not in seen:
                os.utime(p, (1_000_000_000 + seq, 1_000_000_000 + seq))
                seen.add(p)

    # initial loads: batch 0 trains the quantizer, so it must be the
    # vec_id % 3 == 0 slice the oracle trains on
    for parity in (0, 1, 2):
        emb.filter(F.col("vec_id") % 3 == parity).select(
            "vec_id", "embedding"
        ).coalesce(1).write.mode("append").parquet(staging)
        _stamp(parity)
    # the re-embedding batch: negated vectors, delivered LAST
    emb.filter(F.col("vec_id") % IVF_UPD_MOD == 0).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    ).coalesce(1).write.mode("append").parquet(staging)
    _stamp(3)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    q = run_streaming_ivf(
        stream, index, ckpt, "vec_id", "embedding", n_cells=IVF_CELLS
    )
    q.awaitTermination()
    # exercise the full index lifecycle in the checked row: fold batches
    # 0-3 into a base generation (view bit-identical — batch_id survives
    # as a data column), then ingest one more LIVE batch re-delivering
    # the re-embedded slice unchanged (same content at a higher version,
    # so the oracle is untouched). The search below therefore reads the
    # compacted split: cell-pruned base anti-joined against the live id
    # tail, plus the live tail's max-batch survivors.
    compact_ivf_index(spark, index)
    emb.filter(F.col("vec_id") % IVF_UPD_MOD == 0).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    ).coalesce(1).write.mode("append").parquet(staging)
    _stamp(4)
    q = run_streaming_ivf(
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging),
        index, ckpt, "vec_id", "embedding", n_cells=IVF_CELLS,
    )
    q.awaitTermination()
    queries = current_ivf_view(spark, index).filter(
        F.col("c_id") < IVF_QUERIES
    ).select(F.col("c_id").alias("vec_id"), F.col("c_vec").alias("embedding"))
    out = (
        current_ivf_topk(
            spark, index, queries, "vec_id", "embedding", IVF_K,
            n_probe=IVF_PROBE,
        )
        .orderBy("q_id", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


# --- Q: int8 scalar quantization recall ---------------------------------------

SQ_K = 10


@query(
    "q_similarity_sq8",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    mm AS (
      SELECT vec_id, v,
             list_aggregate(v, 'min') AS mn, list_aggregate(v, 'max') AS mx
      FROM vecs
    ),
    qv AS (
      SELECT vec_id,
             CASE WHEN mx = mn THEN v
                  ELSE list_transform(v, x ->
                    mn + (least(255, greatest(0, floor((x - mn) * 255 / (mx - mn)))) + 0.5)
                         * (mx - mn) / 255)
             END AS v
      FROM mm
    ),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM vecs WHERE vec_id < {N_QUERIES}),
    exact_ranked AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round(list_dot_product(q.q_vec, c.v)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))), 9) DESC,
                 c.vec_id) AS rank
        FROM vecs c CROSS JOIN q WHERE c.vec_id <> q.q_id)
      WHERE rank <= {SQ_K}
    ),
    quant_ranked AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round(list_dot_product(q.q_vec, c.v)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))), 9) DESC,
                 c.vec_id) AS rank
        FROM qv c CROSS JOIN q WHERE c.vec_id <> q.q_id)
      WHERE rank <= {SQ_K}
    )
    SELECT e.q_id,
           COUNT(qr.c_id) AS n_overlap,
           COUNT(qr.c_id) / {SQ_K}.0 AS recall
    FROM exact_ranked e
    LEFT JOIN quant_ranked qr USING (q_id, c_id)
    GROUP BY e.q_id
    ORDER BY e.q_id
    """,
    doc="Int8 scalar quantization (SQ8): per-vector floor-quantize the "
    "corpus to 255 levels (4x smaller store), run asymmetric cosine top-10 "
    "against full-precision probes, and report recall@10 vs the exact "
    "ranking per probe. Quantization is exact floor arithmetic, so the "
    "approximate result itself is value-checked cross-engine "
    "(operators/quantize.py).",
)
def q_similarity_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantize import sq8_roundtrip

    emb = load(spark, sf_dir, "embeddings")
    corpus_q = sq8_roundtrip(emb, "embedding").select(
        "vec_id", F.col("vec_q").alias("emb")
    )
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    exact_corpus = emb.select("vec_id", F.col("embedding").alias("emb"))
    exact = cosine_topk(exact_corpus, probes, "vec_id", "emb", SQ_K).select("q_id", "c_id")
    quant = cosine_topk(corpus_q, probes, "vec_id", "emb", SQ_K).select(
        "q_id", "c_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(quant, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(F.count("hit").alias("n_overlap"))
        .withColumn("recall", F.col("n_overlap") / F.lit(float(SQ_K)))
        .orderBy("q_id")
    )


# --- Q: semantic dedup (SemDeDup cluster-then-prune) --------------------------

SEM_THRESHOLD = NEAR_DUP_THRESHOLD  # rounded-cosine prune radius


@query(
    "q_semantic_dedup",
    oracle=_ivf_index_cte(IVF_CELLS)
    + f""",
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS score
      FROM inverted a JOIN inverted b ON a.cell = b.cell AND a.vec_id < b.vec_id
    ),
    dups AS (
      SELECT b_id, MIN(a_id) AS dup_of FROM pairs
      WHERE score >= {SEM_THRESHOLD} GROUP BY b_id
    )
    SELECT i.vec_id AS vec_id, i.cell AS cell,
           CAST(CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
           COALESCE(d.dup_of, -1) AS dup_of
    FROM inverted i LEFT JOIN dups d ON d.b_id = i.vec_id
    ORDER BY vec_id
    """,
    doc="SemDeDup semantic deduplication (Abbas et al. 2023): reuse the "
    "deterministic IVF quantizer (seeded + one Lloyd refinement), then "
    "prune any vector whose rounded cosine to a lower-id vector in the "
    "SAME cell clears the threshold (order-free chain-pruning; dup_of is "
    "the nearest shadowing id). The oracle replays quantizer AND in-cell pair scan, so "
    "the pruning decision itself is value-checked. The only data-sized "
    "shuffle is the cell-keyed self-join; per-cell pair work is bounded "
    "by n_cells (operators/semdedup.py).",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.semdedup import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", SEM_THRESHOLD, n_cells=IVF_CELLS, refine_iters=1
    ).orderBy("vec_id")


# --- Q: product quantization ADC top-k ----------------------------------------

PQ_QUERIES = 8
PQ_TOPK = 5


# Shared PQ pipeline CTEs (seeding, per-subspace Lloyd, encoding, ADC
# table, ordered fold) — reused by q_similarity_pq and the rerank query
# so both oracles replay the identical quantizer.
_PQ_ADC_CTES = f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS code, v
      FROM vecs
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 16
    ),
    jt AS (SELECT unnest(range(4)) AS j),
    sseed AS (SELECT j, code, v[j*16+1 : j*16+16] AS c FROM seeds CROSS JOIN jt),
    svec AS MATERIALIZED (
      SELECT vec_id, j, v[j*16+1 : j*16+16] AS x FROM vecs CROSS JOIN jt
    ),
    d0 AS MATERIALIZED (
      SELECT vec_id, j, x, code FROM (
        SELECT s.vec_id, s.j, s.x, b.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY list_dot_product(s.x, s.x) + list_dot_product(b.c, b.c)
                          - 2 * list_dot_product(s.x, b.c) ASC, b.code ASC
               ) AS rn
        FROM svec s JOIN sseed b USING (j)) WHERE rn = 1
    ),
    means AS (
      SELECT j, code, i, avg(x[i]) AS mval
      FROM d0, LATERAL (SELECT unnest(generate_series(1, 16)) AS i) s
      GROUP BY j, code, i
    ),
    cmean AS (SELECT j, code, list(mval ORDER BY i) AS c FROM means GROUP BY j, code),
    cb AS MATERIALIZED (
      SELECT s.j, s.code, COALESCE(m.c, s.c) AS c
      FROM sseed s LEFT JOIN cmean m ON m.j = s.j AND m.code = s.code
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, j, code FROM (
        SELECT s.vec_id, s.j, b.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY list_dot_product(s.x, s.x) + list_dot_product(b.c, b.c)
                          - 2 * list_dot_product(s.x, b.c) ASC, b.code ASC
               ) AS rn
        FROM svec s JOIN cb b USING (j)) WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS q_id, j, x FROM svec WHERE vec_id < {PQ_QUERIES}),
    dtab AS MATERIALIZED (
      SELECT q.q_id, q.j, b.code,
             list_dot_product(q.x, q.x) + list_dot_product(b.c, b.c)
             - 2 * list_dot_product(q.x, b.c) AS term
      FROM qs q JOIN cb b USING (j)
    ),
    terms AS (
      SELECT d.q_id, e.vec_id, d.j, d.term
      FROM enc e JOIN dtab d ON d.j = e.j AND d.code = e.code
    ),
    folded AS (
      SELECT q_id, vec_id, list(term ORDER BY j) AS ts
      FROM terms GROUP BY q_id, vec_id
    ),
    adc AS (
      SELECT q_id, vec_id,
             round(ts[1]+ts[2]+ts[3]+ts[4], 9) AS adc_dist
      FROM folded WHERE vec_id <> q_id
    )
"""


@query(
    "q_similarity_pq",
    oracle=_PQ_ADC_CTES
    + f"""    SELECT q_id, vec_id, adc_dist, rank FROM (
      SELECT q_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
      FROM adc)
    WHERE rank <= {PQ_TOPK}
    ORDER BY q_id, rank
    """,
    doc="Product-quantization ADC top-k (m=4 subspaces, k=16 codes): "
    "content-addressed seeds + one Lloyd round PER SUBSPACE build the "
    "codebooks (operators/pq.py), the corpus is encoded to 8 small codes "
    "per vector (64x compression of the 64-dim embedding), and search is "
    "asymmetric distance — the query precomputes an m x k exact-distance "
    "table and every candidate costs 4 broadcast-hash lookups plus a "
    "subspace-ORDER-CHAINED sum, never a d-dim dot. All distances use the "
    "||x||²+||c||²-2xc identity over the ordered-fold dot, and the oracle "
    "replays seeding, per-subspace Lloyd, encoding, the ADC table, and "
    "the fixed-order fold, so the quantizer itself is value-checked.",
)
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk, pq_codebooks

    emb = load(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, "vec_id", "embedding", m=4, k=16, iterations=1)
    queries = emb.filter(F.col("vec_id") < PQ_QUERIES)
    return pq_adc_topk(emb, queries, "vec_id", "embedding", books, PQ_TOPK).orderBy(
        "q_id", "rank"
    )


# --- Q: ANN recall evaluation -------------------------------------------------


@query(
    "q_ann_recall",
    oracle=_ivf_index_cte(IVF_CELLS)
    + f""",
    q AS (SELECT vec_id AS q_id, v AS q_v FROM vecs WHERE vec_id < {IVF_QUERIES}),
    probe AS (
      SELECT q_id, q_v, cell FROM (
        SELECT q.q_id, q.q_v, cents.cell,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_dot_product(cents.v, q.q_v) DESC, cents.cell
               ) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= {IVF_PROBE}
    ),
    ivf_hits AS (
      SELECT q_id, c_id FROM (
        SELECT s.q_id, s.c_id,
               row_number() OVER (PARTITION BY s.q_id ORDER BY s.score DESC, s.c_id) AS rank
        FROM (
          SELECT p.q_id, a.vec_id AS c_id,
                 round(
                   list_dot_product(p.q_v, a.v)
                   / (sqrt(list_dot_product(p.q_v, p.q_v)) * sqrt(list_dot_product(a.v, a.v))),
                   9
                 ) AS score
          FROM probe p JOIN inverted a ON p.cell = a.cell AND a.vec_id <> p.q_id
        ) s)
      WHERE rank <= {IVF_K}
    ),
    exact_hits AS (
      SELECT q_id, c_id FROM (
        SELECT s.q_id, s.c_id,
               row_number() OVER (PARTITION BY s.q_id ORDER BY s.score DESC, s.c_id) AS rank
        FROM (
          SELECT q.q_id, c.vec_id AS c_id,
                 round(
                   list_dot_product(q.q_v, c.v)
                   / (sqrt(list_dot_product(q.q_v, q.q_v)) * sqrt(list_dot_product(c.v, c.v))),
                   9
                 ) AS score
          FROM vecs c CROSS JOIN q
          WHERE c.vec_id <> q.q_id
        ) s)
      WHERE rank <= {IVF_K}
    )
    SELECT e.q_id,
           CAST(COUNT(i.c_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.c_id) AS DOUBLE) / {IVF_K} AS recall
    FROM exact_hits e
    LEFT JOIN ivf_hits i ON i.q_id = e.q_id AND i.c_id = e.c_id
    GROUP BY e.q_id
    ORDER BY e.q_id
    """,
    doc="ANN evaluation harness: recall@5 of the IVF index (8 cells, probe "
    "2) against the exact cosine top-5, per query — the measurement every "
    "production ANN deployment runs before trusting an approximate index. "
    "Both pipelines and their join are replayed in the oracle, so the "
    "recall numbers themselves are value-checked. The exact side is the "
    "bounded probe-set broadcast plan; at 100 TB this runs over a sampled "
    "query set exactly like this fixed one.",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivf import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < IVF_QUERIES)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", IVF_K).select(
        "q_id", "c_id"
    )
    approx = ivf_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        IVF_K,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        refine_iters=1,
    ).select("q_id", F.col("c_id").alias("i_id"))
    return (
        exact.join(
            approx,
            (exact.q_id == approx.q_id) & (exact.c_id == approx.i_id),
            "left",
        )
        .select(exact.q_id.alias("q_id"), "i_id")
        .groupBy("q_id")
        .agg(
            F.count("i_id").alias("n_hits"),
            (F.count("i_id").cast("double") / F.lit(float(IVF_K))).alias("recall"),
        )
        .orderBy("q_id")
    )


# --- Q: IVF-PQ residual index -------------------------------------------------

IVFPQ_M = 4
IVFPQ_K = 8
IVFPQ_SUB = 16  # 64 // IVFPQ_M
IVFPQ_QUERIES = 8
IVFPQ_TOPK = 5


@query(
    "q_similarity_ivfpq",
    oracle=_ivf_index_cte(IVF_CELLS)
    + f""",
    resid AS MATERIALIZED (
      SELECT iv.vec_id, iv.cell, list(iv.v[gi.i] - c.v[gi.i] ORDER BY gi.i) AS r
      FROM inverted iv JOIN cents c USING (cell),
           LATERAL (SELECT unnest(generate_series(1, 64)) AS i) gi
      GROUP BY iv.vec_id, iv.cell
    ),
    pseed AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS code, r
      FROM resid
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {IVFPQ_K}
    ),
    jt AS (SELECT unnest(range({IVFPQ_M})) AS j),
    cb AS (
      SELECT j, code, r[j*{IVFPQ_SUB}+1 : j*{IVFPQ_SUB}+{IVFPQ_SUB}] AS c
      FROM pseed CROSS JOIN jt
    ),
    rsub AS MATERIALIZED (
      SELECT vec_id, cell, j, r[j*{IVFPQ_SUB}+1 : j*{IVFPQ_SUB}+{IVFPQ_SUB}] AS x
      FROM resid CROSS JOIN jt
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, cell, j, code FROM (
        SELECT s.vec_id, s.cell, s.j, b.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY list_dot_product(s.x, s.x) + list_dot_product(b.c, b.c)
                          - 2 * list_dot_product(s.x, b.c) ASC, b.code ASC
               ) AS rn
        FROM rsub s JOIN cb b USING (j)) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, v AS q_v FROM vecs WHERE vec_id < {IVFPQ_QUERIES}),
    probe AS (
      SELECT q_id, q_v, cell FROM (
        SELECT q.q_id, q.q_v, cents.cell,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_dot_product(cents.v, q.q_v) DESC, cents.cell
               ) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= {IVF_PROBE}
    ),
    qres AS (
      SELECT p.q_id, p.cell, list(p.q_v[gi.i] - c.v[gi.i] ORDER BY gi.i) AS r
      FROM probe p JOIN cents c USING (cell),
           LATERAL (SELECT unnest(generate_series(1, 64)) AS i) gi
      GROUP BY p.q_id, p.cell
    ),
    qsub AS (
      SELECT q_id, cell, j, r[j*{IVFPQ_SUB}+1 : j*{IVFPQ_SUB}+{IVFPQ_SUB}] AS x
      FROM qres CROSS JOIN jt
    ),
    dtab AS MATERIALIZED (
      SELECT s.q_id, s.cell, s.j, b.code,
             list_dot_product(s.x, s.x) + list_dot_product(b.c, b.c)
             - 2 * list_dot_product(s.x, b.c) AS term
      FROM qsub s JOIN cb b USING (j)
    ),
    terms AS (
      SELECT d.q_id, e.vec_id, e.cell, d.j, d.term
      FROM enc e JOIN dtab d ON d.cell = e.cell AND d.j = e.j AND d.code = e.code
      WHERE e.vec_id <> d.q_id
    ),
    folded AS (
      SELECT q_id, vec_id, cell, list(term ORDER BY j) AS ts
      FROM terms GROUP BY q_id, vec_id, cell
    ),
    adc AS (
      SELECT q_id, vec_id, cell, round(ts[1]+ts[2]+ts[3]+ts[4], 9) AS adc_dist
      FROM folded
    )
    SELECT q_id, vec_id, cell, adc_dist, rank FROM (
      SELECT q_id, vec_id, cell, adc_dist,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
      FROM adc)
    WHERE rank <= {IVFPQ_TOPK}
    ORDER BY q_id, rank
    """,
    doc="IVF-PQ, the canonical billion-scale ANN layout (FAISS IVFPQ): the "
    "IVF coarse quantizer (content-addressed seeds + exact-sum Lloyd) "
    "routes vectors to cells, PQ encodes the RESIDUAL v - centroid(cell) "
    "as 4 codes (operators/ivfpq.py), and search probes 2 cells with an "
    "ADC table keyed by (query, cell). Residual codebooks are seed-only — "
    "residuals carry full 53-bit mantissas whose sums are order-dependent, "
    "so a Lloyd round over them could not be engine-reproducible; every "
    "remaining step is single-op IEEE and the whole index (coarse assign, "
    "residuals, encoding, probe, ADC fold, ranking) is replayed by the "
    "oracle, value-checking the composed index end to end.",
)
def q_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivfpq import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < IVFPQ_QUERIES)
    return ivfpq_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        IVFPQ_TOPK,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        m=IVFPQ_M,
        k=IVFPQ_K,
        refine_iters=1,
    ).orderBy("q_id", "rank")


# --- Q: PQ shortlist + exact rerank --------------------------------------------

PQ_SHORTLIST = 20


@query(
    "q_similarity_pq_rerank",
    bench=True,
    oracle=_PQ_ADC_CTES
    + f""",
    short AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
        FROM adc)
      WHERE rank <= {PQ_SHORTLIST}
    ),
    ex AS (
      SELECT s.q_id, s.vec_id,
             round(list_dot_product(qv.v, cv.v)
               / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))), 9) AS score
      FROM short s
      JOIN vecs qv ON qv.vec_id = s.q_id
      JOIN vecs cv ON cv.vec_id = s.vec_id
    )
    SELECT q_id, vec_id, score, rank FROM (
      SELECT q_id, vec_id, score,
             row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
      FROM ex)
    WHERE rank <= {PQ_TOPK}
    ORDER BY q_id, rank
    """,
    doc="PQ ADC shortlist + EXACT cosine rerank (Jégou et al. 2011 §IV) — "
    "the standard quantized-index serving pattern: compressed codes "
    "shortlist 20 candidates per query, only those touch raw vectors for "
    "the exact top-5. The rerank side is queries x shortlist rows, "
    "broadcast against one streaming corpus scan; the oracle replays the "
    "full quantizer, the shortlist, and the exact rerank "
    "(operators/pq.py).",
)
def q_similarity_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_codebooks, pq_rerank_topk

    emb = load(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, "vec_id", "embedding", m=4, k=16, iterations=1)
    queries = emb.filter(F.col("vec_id") < PQ_QUERIES)
    return pq_rerank_topk(
        emb, queries, "vec_id", "embedding", books, PQ_SHORTLIST, PQ_TOPK
    ).orderBy("q_id", "rank")


# --- Q: JL sign-projection recall ----------------------------------------------

JL_D_IN = 64
JL_D_OUT = 16
JL_SALT = "jl"


def _jl_sql_rows() -> str:
    from ..operators.jl import jl_sign_matrix

    rows = jl_sign_matrix(JL_SALT, JL_D_IN, JL_D_OUT)
    lists = ",\n        ".join(
        "list_dot_product(v, [" + ", ".join(str(s) for s in row) + "])"
        for row in rows
    )
    return lists


@query(
    "q_similarity_jl",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    proj AS (
      SELECT vec_id, [
        {_jl_sql_rows()}
      ] AS p FROM vecs
    ),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM vecs WHERE vec_id < {N_QUERIES}),
    qp AS (SELECT vec_id AS q_id, p AS q_p FROM proj WHERE vec_id < {N_QUERIES}),
    exact_ranked AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round(list_dot_product(q.q_vec, c.v)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))), 9) DESC,
                 c.vec_id) AS rank
        FROM vecs c CROSS JOIN q WHERE c.vec_id <> q.q_id)
      WHERE rank <= {SQ_K}
    ),
    jl_ranked AS (
      SELECT q_id, c_id FROM (
        SELECT qp.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY qp.q_id ORDER BY
                 round(list_dot_product(qp.q_p, c.p)
                   / (sqrt(list_dot_product(qp.q_p, qp.q_p)) * sqrt(list_dot_product(c.p, c.p))), 9) DESC,
                 c.vec_id) AS rank
        FROM proj c CROSS JOIN qp WHERE c.vec_id <> qp.q_id)
      WHERE rank <= {SQ_K}
    )
    SELECT e.q_id,
           COUNT(j.c_id) AS n_overlap,
           COUNT(j.c_id) / {SQ_K}.0 AS recall
    FROM exact_ranked e
    LEFT JOIN jl_ranked j USING (q_id, c_id)
    GROUP BY e.q_id
    ORDER BY e.q_id
    """,
    doc="Johnson-Lindenstrauss sign projection (Achlioptas 2003): project "
    "64-dim embeddings to 16 dims with a content-addressed ±1 matrix "
    "(md5-derived, no RNG state — any engine reproduces it), search "
    "cosine top-10 in the PROJECTED space (4x less arithmetic and scan "
    "per candidate), and report recall@10 vs the exact ranking. The "
    "dimension-reduction rung of the compression ladder next to "
    "SQ8/PQ/IVF-PQ's precision rungs (operators/jl.py).",
)
def q_similarity_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.jl import jl_project

    emb = load(spark, sf_dir, "embeddings")
    projected = jl_project(emb, "embedding", JL_D_IN, JL_D_OUT).select(
        "vec_id", F.col("vec_jl").alias("emb")
    )
    probes_raw = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", F.col("embedding").alias("emb")
    )
    probes_jl = projected.filter(F.col("vec_id") < N_QUERIES)
    exact_corpus = emb.select("vec_id", F.col("embedding").alias("emb"))
    exact = cosine_topk(exact_corpus, probes_raw, "vec_id", "emb", SQ_K).select(
        "q_id", "c_id"
    )
    jl = cosine_topk(projected, probes_jl, "vec_id", "emb", SQ_K).select(
        "q_id", "c_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(jl, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(F.count("hit").alias("n_overlap"))
        .withColumn("recall", F.col("n_overlap") / F.lit(float(SQ_K)))
        .orderBy("q_id")
    )


# --- Q: JL shortlist + exact rerank (two-stage serving) -----------------------

JL_SHORTLIST = 30


@query(
    "q_similarity_jl_rerank",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    proj AS (
      SELECT vec_id, [
        {_jl_sql_rows()}
      ] AS p FROM vecs
    ),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM vecs WHERE vec_id < {N_QUERIES}),
    qp AS (SELECT vec_id AS q_id, p AS q_p FROM proj WHERE vec_id < {N_QUERIES}),
    exact_ranked AS (
      SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round(list_dot_product(q.q_vec, c.v)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))), 9) DESC,
                 c.vec_id) AS rank
        FROM vecs c CROSS JOIN q WHERE c.vec_id <> q.q_id)
      WHERE rank <= {SQ_K}
    ),
    jl_short AS (
      SELECT q_id, c_id FROM (
        SELECT qp.q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY qp.q_id ORDER BY
                 round(list_dot_product(qp.q_p, c.p)
                   / (sqrt(list_dot_product(qp.q_p, qp.q_p)) * sqrt(list_dot_product(c.p, c.p))), 9) DESC,
                 c.vec_id) AS rank
        FROM proj c CROSS JOIN qp WHERE c.vec_id <> qp.q_id)
      WHERE rank <= {JL_SHORTLIST}
    ),
    reranked AS (
      SELECT q_id, c_id FROM (
        SELECT s.q_id, s.c_id,
               row_number() OVER (PARTITION BY s.q_id ORDER BY
                 round(list_dot_product(q.q_vec, c.v)
                   / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))), 9) DESC,
                 s.c_id) AS rank
        FROM jl_short s
        JOIN vecs c ON c.vec_id = s.c_id
        JOIN q ON q.q_id = s.q_id)
      WHERE rank <= {SQ_K}
    )
    SELECT e.q_id,
           COUNT(r.c_id) AS n_overlap,
           COUNT(r.c_id) / {SQ_K}.0 AS recall
    FROM exact_ranked e
    LEFT JOIN reranked r USING (q_id, c_id)
    GROUP BY e.q_id
    ORDER BY e.q_id
    """,
    doc="Two-stage ANN serving: JL sign-projection shortlist "
    f"(cosine top-{JL_SHORTLIST} in the 16-dim projected space — 4x less "
    "arithmetic and scan per candidate) then EXACT cosine rerank of only "
    f"the shortlisted raw vectors to top-{SQ_K}, reported as recall@{SQ_K} "
    "vs the exact ranking. Composes the dimension rung with the "
    "rerank stage (operators/jl.py jl_rerank_topk; the precision-rung "
    "sibling is q_similarity_pq_rerank) — the rerank side is "
    "queries x shortlist rows broadcast against ONE streaming corpus "
    "scan. Recall dominates the JL-only row by construction whenever the "
    "shortlist covers more of the true top-k than the projected top-k "
    "alone (tests/test_fts_ann.py pins the dominance).",
)
def q_similarity_jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.jl import jl_rerank_topk

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    rer = jl_rerank_topk(
        emb, probes, "vec_id", "embedding", JL_D_IN, JL_D_OUT, JL_SHORTLIST, SQ_K
    ).select("q_id", F.col("vec_id").alias("c_id"), F.lit(1).alias("hit"))
    exact_corpus = emb.select("vec_id", F.col("embedding").alias("emb"))
    probes_raw = probes.select("vec_id", F.col("embedding").alias("emb"))
    exact = cosine_topk(exact_corpus, probes_raw, "vec_id", "emb", SQ_K).select(
        "q_id", "c_id"
    )
    return (
        exact.join(rer, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(F.count("hit").alias("n_overlap"))
        .withColumn("recall", F.col("n_overlap") / F.lit(float(SQ_K)))
        .orderBy("q_id")
    )


# --- Q: greedy k-center diversity sample ---------------------------------------

KCENTER_K = 8


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy farthest-first replay: one CTE per selection round.

    Distances use the same dot(x,x) - 2 dot(x,c) + dot(c,c) expression and
    round-to-9 discipline as the Spark side, so the argmax sequence is
    engine-identical (ties broken by smallest vec_id)."""

    def d2(cte: str) -> str:
        return (
            f"(list_dot_product(x.v, x.v)"
            f" - 2 * list_dot_product(x.v, (SELECT v FROM {cte}))"
            f" + list_dot_product((SELECT v FROM {cte}), (SELECT v FROM {cte})))"
        )

    def mind(prev: list[str]) -> str:
        terms = [d2(p) for p in prev]
        inner = terms[0] if len(terms) == 1 else "LEAST(" + ", ".join(terms) + ")"
        return f"round({inner}, 9)"

    # MATERIALIZED: DuckDB inlines plain CTEs, so the O(k^2) scalar
    # subqueries would each re-open the parquet (fd exhaustion) and redo
    # the whole prefix of the greedy chain per reference.
    parts = [
        "vecs AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 1)",
    ]
    for r in range(2, k + 1):
        prev = [f"c{i}" for i in range(1, r)]
        notin = " UNION ALL ".join(f"SELECT vec_id FROM {p}" for p in prev)
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT x.vec_id, x.v FROM vecs x"
            f" WHERE x.vec_id NOT IN ({notin})"
            f" ORDER BY {mind(prev)} DESC, x.vec_id LIMIT 1)"
        )
    selects = ["SELECT 1 AS rank, vec_id, 0.0 AS dist FROM c1"]
    for r in range(2, k + 1):
        prev = [f"c{i}" for i in range(1, r)]
        selects.append(
            f"SELECT {r} AS rank, x.vec_id, {mind(prev)} AS dist FROM c{r} x"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY rank"


@query(
    "q_kcenter_sample",
    oracle=_kcenter_oracle(KCENTER_K),
    doc="Greedy k-center diversity sample (Gonzalez 1985 farthest-first): "
    f"{KCENTER_K} maximally-spread embeddings, each round one distributed "
    "scan + MAX(struct) argmax against plan-time center literals, ties to "
    "smallest id; dist is the (rounded) squared-L2 distance to the chosen "
    "set at selection time — the coverage-radius sequence. The diverse-"
    "subset / coreset-seed primitive of embedding-level curation "
    "(operators/coreset.py).",
)
def q_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.coreset import kcenter_sample

    emb = load(spark, sf_dir, "embeddings")
    return kcenter_sample(emb, "vec_id", "embedding", KCENTER_K).orderBy("rank")


# --- Q: batched farthest-first (large-k diversity sampling) ---------------------

KCP_K = 25
KCP_BATCH = 8


def _kcenter_parallel_oracle(k: int, batch: int) -> str:
    """Chained-CTE replay of the batched farthest-first rounds: per round,
    min-distance to the accumulated center set via a grouped CROSS JOIN
    (the centers are data, not literals, so no O(k^2) scalar subqueries),
    then the batch of farthest points, then the union into the next set."""
    d2 = (
        "list_dot_product(x.v, x.v) - 2 * list_dot_product(x.v, c.v)"
        " + list_dot_product(c.v, c.v)"
    )
    parts = [
        "vecs AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "s0 AS MATERIALIZED (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 1)",
    ]
    selects = ["SELECT 0 AS rnd, vec_id, 0.0 AS dist FROM s0"]
    picked, r = 1, 0
    while picked < k:
        r += 1
        b = min(batch, k - picked)
        picked += b
        parts.append(
            f"m{r} AS MATERIALIZED (SELECT x.vec_id, round(MIN({d2}), 9) AS mind"
            f" FROM vecs x CROSS JOIN s{r - 1} c"
            f" WHERE x.vec_id NOT IN (SELECT vec_id FROM s{r - 1})"
            f" GROUP BY x.vec_id)"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT m.vec_id, v.v, m.mind FROM m{r} m"
            f" JOIN vecs v USING (vec_id)"
            f" ORDER BY m.mind DESC, m.vec_id LIMIT {b})"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT vec_id, v FROM s{r - 1}"
            f" UNION ALL SELECT vec_id, v FROM c{r})"
        )
        selects.append(f"SELECT {r} AS rnd, vec_id, mind AS dist FROM c{r}")
    return (
        "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)
        + "\nORDER BY rnd, dist DESC, vec_id"
    )


@query(
    "q_kcenter_parallel",
    oracle=_kcenter_parallel_oracle(KCP_K, KCP_BATCH),
    doc=f"Batched farthest-first diversity sample (operators/coreset.py "
    f"kcenter_parallel): {KCP_K} spread embeddings in ceil((k-1)/b) = 3 "
    f"distributed rounds of {KCP_BATCH} picks instead of k-1 = 24 — the "
    "oversampled large-k variant of q_kcenter_sample (the k-means|| "
    "trade, Bahmani et al. 2012). Per round one scan computes every "
    "point's rounded distance to the pre-round set (one array-of-arrays "
    "plan literal, array_min transform) and TakeOrdered picks the batch; "
    "the oracle replays each round as a grouped CROSS JOIN over the "
    "accumulated center CTE. batch=1 reproduces the exact greedy chain "
    "(pytest golden).",
)
def q_kcenter_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.coreset import kcenter_parallel

    emb = load(spark, sf_dir, "embeddings")
    return kcenter_parallel(emb, "vec_id", "embedding", KCP_K, KCP_BATCH).orderBy(
        "rnd", F.desc("dist"), "vec_id"
    )


# --- Q: k-NN majority-vote labeling --------------------------------------------


@query(
    "q_knn_classify",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM vecs WHERE vec_id < {N_QUERIES}),
    corpus AS (SELECT vec_id AS c_id, label, v FROM vecs WHERE vec_id >= {N_QUERIES}),
    scored AS (
      SELECT q.q_id, c.c_id, c.label,
             round(
               list_dot_product(q.q_vec, c.v)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))),
               9
             ) AS score
      FROM corpus c CROSS JOIN q
    ),
    ranked AS (
      SELECT q_id, c_id, label,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      FROM scored
    ),
    votes AS (
      SELECT q_id, label AS pred_label, COUNT(*) AS n_votes
      FROM ranked WHERE rank <= {TOP_K}
      GROUP BY 1, 2
    ),
    best AS (
      SELECT q_id, pred_label, n_votes,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY n_votes DESC, pred_label ASC
             ) AS rn
      FROM votes
    )
    SELECT q_id, pred_label, n_votes, n_votes / {float(TOP_K)} AS vote_share
    FROM best WHERE rn = 1
    ORDER BY q_id
    """,
    doc="k-NN majority-vote auto-labeling: each probe (vec_id < 10) takes "
    f"the majority label of its {TOP_K} nearest corpus embeddings "
    "(vec_id >= 10, cosine, rounded-score ranking), ties to the smallest "
    "label — the propagate-labels-by-neighbors primitive of embedding-"
    "level curation (operators/similarity.py knn_classify).",
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import knn_classify

    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES)
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    return knn_classify(corpus, probes, "vec_id", "embedding", "label", TOP_K).orderBy(
        "q_id"
    )


# --- Q: metadata-filtered vector search ----------------------------------------

FILTER_LABEL = 1
FILTERED_QUERIES = 5


@query(
    "q_similarity_filtered",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM vecs WHERE vec_id < {FILTERED_QUERIES}),
    corpus AS (SELECT vec_id AS c_id, v FROM vecs WHERE label = {FILTER_LABEL}),
    scored AS (
      SELECT q.q_id, c.c_id,
             round(
               list_dot_product(q.q_vec, c.v)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))),
               9
             ) AS score
      FROM corpus c CROSS JOIN q
      WHERE c.c_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, c_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      FROM scored
    )
    SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= {TOP_K}
    ORDER BY q_id, rank
    """,
    doc="Metadata-filtered vector search: exact cosine top-5 restricted to "
    f"corpus rows with label = {FILTER_LABEL} — the filtered-ANN serving "
    "surface (predicate + similarity in one query). The label predicate is "
    "pushed into the parquet scan (PushedFilters), so the corpus side "
    "reads only matching row groups before any vector math.",
)
def q_similarity_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < FILTERED_QUERIES)
    corpus = emb.filter(F.col("label") == FILTER_LABEL)
    return cosine_topk(corpus, probes, "vec_id", "embedding", TOP_K).orderBy(
        "q_id", "rank"
    )


# --- Q: exact-arithmetic distributed k-means -----------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_SCALE = 10_000


def _kmeans_parts(k: int, iters: int, scale: int) -> list[str]:
    """CTE chain replaying the exact-integer Lloyd trajectory
    (operators/kmeans.py) through the final assignment relation
    ``a<iters>`` — shared by the cluster-stats and cluster-quota
    oracles: floor-quantized vectors, centroids carried as integer
    (sum, count), the distance key A/n^2 with A an exact BIGINT — so
    assignments are bit-identical across engines."""
    parts = [
        f"""x AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
                            v -> CAST(floor(v * {scale}) AS BIGINT)) AS xi
      FROM embeddings
    ),
    xd AS MATERIALIZED (
      SELECT vec_id, i AS dim, xi[i] AS x
      FROM x, LATERAL (SELECT unnest(generate_series(1, len(xi))) AS i) s
    ),
    seed_dims AS MATERIALIZED (
      SELECT cell, dim, x AS seed_x
      FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cell
        FROM x
        QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= {k}
      ) sd JOIN xd USING (vec_id)
    ),
    cent0 AS (SELECT cell, dim, seed_x AS s, CAST(1 AS BIGINT) AS n FROM seed_dims)"""
    ]
    for r in range(1, iters + 1):
        parts.append(f"""f{r} AS (
      SELECT xd.vec_id, c.cell,
             CAST(SUM((c.n * xd.x - c.s) * (c.n * xd.x - c.s)) AS DOUBLE)
               / (MAX(c.n) * MAX(c.n)) AS f
      FROM xd JOIN cent{r - 1} c USING (dim)
      GROUP BY xd.vec_id, c.cell
    ),
    a{r} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY f, cell) AS rn
        FROM f{r}) WHERE rn = 1
    ),
    cent{r} AS MATERIALIZED (
      SELECT sd.cell, sd.dim, COALESCE(u.s, sd.seed_x) AS s,
             COALESCE(u.n, 1) AS n
      FROM seed_dims sd LEFT JOIN (
        SELECT a.cell, xd.dim, CAST(SUM(xd.x) AS BIGINT) AS s, COUNT(*) AS n
        FROM a{r} a JOIN xd USING (vec_id) GROUP BY 1, 2
      ) u ON sd.cell = u.cell AND sd.dim = u.dim
    )""")
    return parts


def _kmeans_oracle(k: int, iters: int, scale: int) -> str:
    """Per-cluster size/majority/inertia over the shared Lloyd chain."""
    parts = _kmeans_parts(k, iters, scale)
    t = iters
    tail = f""",
    ia AS (
      SELECT a.vec_id, a.cell,
             CAST(SUM((c.n * x2.x - c.s) * (c.n * x2.x - c.s)) AS DECIMAL(38,0)) AS A,
             MAX(c.n) AS n
      FROM a{t} a
           JOIN xd x2 USING (vec_id)
           JOIN cent{t} c ON c.cell = a.cell AND c.dim = x2.dim
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cell, COUNT(*) AS size, CAST(SUM(A) AS DECIMAL(38,0)) AS sumA,
             MAX(n) AS n
      FROM ia GROUP BY 1
    ),
    maj AS (
      SELECT cell, label AS majority_label, cnt AS majority_n FROM (
        SELECT a.cell, x.label, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY a.cell
                                  ORDER BY COUNT(*) DESC, x.label) AS rn
        FROM a{t} a JOIN x USING (vec_id) GROUP BY a.cell, x.label
      ) WHERE rn = 1
    )
    SELECT s.cell AS cluster, s.size, m.majority_label, m.majority_n,
           CAST(s.sumA AS DOUBLE) / (s.n * s.n) / {float(scale) ** 2} AS inertia
    FROM sizes s JOIN maj m USING (cell)
    ORDER BY cluster"""
    return "WITH " + ",\n".join(parts) + tail


@query(
    "q_kmeans_clusters",
    oracle=_kmeans_oracle(KMEANS_K, KMEANS_ITERS, KMEANS_SCALE),
    bench=True,
    doc=f"Distributed k-means over the embedding column ({KMEANS_K} "
    f"clusters, {KMEANS_ITERS} Lloyd rounds) in EXACT integer arithmetic "
    "(operators/kmeans.py): vectors floor-quantized once, centroids "
    "carried as integer (per-dim sum, count), and the distance key "
    "||x - s/n||^2 compared via the exact BIGINT A = sum((n*x - s)^2) "
    "divided by n^2 once in double — so the whole trajectory, the final "
    "sizes/majority labels AND the inertia are bit-identical across "
    "engines and partitionings (float k-means is neither). Per-round "
    "driver state is the k x d centroid table; the corpus never leaves "
    "the cluster. The oracle replays every round in chained SQL CTEs. "
    "Content-addressed seeding (first k by md5) per the IVF idiom.",
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_cluster_stats

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_cluster_stats(
        emb, "vec_id", "embedding", "label",
        KMEANS_K, KMEANS_ITERS, KMEANS_SCALE,
    ).orderBy("cluster")


# --- Q: cluster-quota topic balancing ------------------------------------------

CQ_N = 5  # documents kept per k-means cluster


def _cluster_quota_oracle(k: int, iters: int, scale: int, quota: int) -> str:
    parts = _kmeans_parts(k, iters, scale)
    tail = f""",
    ranked AS (
      SELECT a.cell AS cluster, d.doc_id, d.n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY a.cell ORDER BY d.n_chars DESC, d.doc_id
             ) AS INTEGER) AS rnk
      FROM a{iters} a JOIN documents d ON d.doc_id = a.vec_id
    )
    SELECT cluster, doc_id, n_chars, rnk FROM ranked
    WHERE rnk <= {quota} ORDER BY cluster, rnk"""
    return "WITH " + ",\n".join(parts) + tail


@query(
    "q_cluster_quota",
    oracle=_cluster_quota_oracle(KMEANS_K, KMEANS_ITERS, KMEANS_SCALE, CQ_N),
    doc=f"Cluster-quota topic balancing: at most {CQ_N} documents per "
    f"k-means cluster ({KMEANS_K} clusters over the embedding column, "
    f"{KMEANS_ITERS} exact-integer Lloyd rounds), best quality (longest) "
    "first — the cluster-balanced sampling of DoReMi-adjacent curation "
    "pipelines (topic diversity enforced by the embedding geometry "
    "instead of the domain key, composing q_kmeans_clusters' bit-exact "
    "assignments with q_domain_quota's rank-cap shape). One shuffle on "
    "the cluster key, rank inside partitions; the oracle replays the "
    "full Lloyd trajectory in chained CTEs and then the quota window "
    "(operators/kmeans.py + operators/topk.py top_k_per_group).",
)
def q_cluster_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_fit
    from ..operators.topk import top_k_per_group

    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    assign, _cents = kmeans_fit(
        emb, "vec_id", "embedding", KMEANS_K, KMEANS_ITERS, KMEANS_SCALE
    )
    member = assign.join(
        docs.select(F.col("doc_id"), "n_chars"),
        assign["vec_id"] == F.col("doc_id"),
    ).select(F.col("cell").alias("cluster"), "doc_id", "n_chars")
    return (
        top_k_per_group(
            member,
            ["cluster"],
            [F.desc("n_chars"), F.asc("doc_id")],
            CQ_N,
            rank_col="rnk",
            keep_rank=True,
        )
        .select("cluster", "doc_id", "n_chars", "rnk")
        .orderBy("cluster", "rnk")
    )


# --- Q: search ranking quality (nDCG of the ANN index vs exact) ----------------

import math as _math

# integer micro-weights for 1/log2(rank+1), shared literals in both
# engines so the DCG sum is exact BIGINT arithmetic (order-free) rather
# than an order-dependent float accumulation
_NDCG_W = {r: round(1e9 / _math.log2(r + 1)) for r in range(1, IVF_K + 1)}
_NDCG_IDEAL = sum((IVF_K + 1 - r) * w for r, w in _NDCG_W.items())


def _ndcg_w_sql(rank_expr: str) -> str:
    cases = " ".join(f"WHEN {r} THEN {w}" for r, w in _NDCG_W.items())
    return f"CASE {rank_expr} {cases} ELSE 0 END"


@query(
    "q_search_ndcg",
    oracle=_ivf_index_cte(IVF_CELLS)
    + f""",
    q AS (SELECT vec_id AS q_id, v AS q_v FROM vecs WHERE vec_id < {IVF_QUERIES}),
    probe AS (
      SELECT q_id, q_v, cell FROM (
        SELECT q.q_id, q.q_v, cents.cell,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_dot_product(cents.v, q.q_v) DESC, cents.cell
               ) AS rn
        FROM q CROSS JOIN cents) WHERE rn <= {IVF_PROBE}
    ),
    ascored AS (
      SELECT p.q_id, a.vec_id AS c_id,
             round(
               list_dot_product(p.q_v, a.v)
               / (sqrt(list_dot_product(p.q_v, p.q_v)) * sqrt(list_dot_product(a.v, a.v))),
               9
             ) AS score
      FROM probe p JOIN inverted a ON p.cell = a.cell AND a.vec_id <> p.q_id
    ),
    approx AS (
      SELECT q_id, c_id, rank FROM (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
        FROM ascored)
      WHERE rank <= {IVF_K}
    ),
    escored AS (
      SELECT q.q_id, c.vec_id AS c_id,
             round(
               list_dot_product(q.q_v, c.v)
               / (sqrt(list_dot_product(q.q_v, q.q_v)) * sqrt(list_dot_product(c.v, c.v))),
               9
             ) AS score
      FROM vecs c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    exact AS (
      SELECT q_id, c_id, e_rank FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS e_rank
        FROM escored)
      WHERE e_rank <= {IVF_K}
    ),
    g AS (
      SELECT a.q_id,
             COALESCE({IVF_K} + 1 - e.e_rank, 0) AS rel,
             {_ndcg_w_sql("a.rank")} AS w
      FROM approx a LEFT JOIN exact e USING (q_id, c_id)
    )
    SELECT q_id,
           CAST(SUM(rel * w) AS BIGINT) AS dcg_units,
           CAST(SUM(rel * w) AS BIGINT) / {_NDCG_IDEAL} AS ndcg
    FROM g GROUP BY q_id ORDER BY q_id
    """,
    doc=f"Search ranking quality: nDCG@{IVF_K} of the IVF approximate "
    "index against the exact cosine ranking, per query. Graded relevance "
    f"rel = {IVF_K}+1-exact_rank for the exact top-{IVF_K}; discount "
    "weights 1/log2(rank+1) are pre-scaled to shared INTEGER "
    "micro-units, so each query's DCG is an exact order-free BIGINT sum "
    "and nDCG one double division (no float-accumulation flake). "
    "Complements q_ann_recall: recall counts hits, nDCG weighs WHERE "
    "the index put them.",
)
def q_search_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivf import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < IVF_QUERIES)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", IVF_K).select(
        "q_id", "c_id", F.col("rank").alias("e_rank")
    )
    approx = ivf_topk(
        emb, queries, "vec_id", "embedding", IVF_K,
        n_cells=IVF_CELLS, n_probe=IVF_PROBE, refine_iters=1,
    ).select("q_id", "c_id", "rank")

    w_expr = F.lit(0).cast("long")
    for r, w in _NDCG_W.items():
        w_expr = F.when(F.col("rank") == r, F.lit(w).cast("long")).otherwise(w_expr)
    g = approx.join(exact, ["q_id", "c_id"], "left").select(
        "q_id",
        F.coalesce(F.lit(IVF_K + 1) - F.col("e_rank"), F.lit(0)).alias("rel"),
        w_expr.alias("w"),
    )
    return (
        g.groupBy("q_id")
        .agg(F.sum(F.col("rel") * F.col("w")).alias("dcg_units"))
        .select(
            "q_id",
            "dcg_units",
            (F.col("dcg_units") / F.lit(_NDCG_IDEAL)).alias("ndcg"),
        )
        .orderBy("q_id")
    )


GRAM_SCALE = 10_000


@query(
    "q_embedding_gram",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {GRAM_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    d AS (
      SELECT vec_id,
             UNNEST(generate_series(1, len(qv))) - 1 AS i,
             UNNEST(qv) AS x
      FROM q
    ),
    g AS (
      SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS gram_h
      FROM d a JOIN d b USING (vec_id)
      WHERE b.i >= a.i
      GROUP BY 1, 2
    ),
    s AS (SELECT i, SUM(x) AS sv FROM d GROUP BY 1),
    -- count NON-NULL vectors only (gram_scatter filters nulls; the d/g/s
    -- CTEs skip them implicitly because UNNEST of NULL yields no rows)
    n AS (SELECT COUNT(*) AS n_vecs FROM q WHERE qv IS NOT NULL)
    SELECT g.i, g.j,
           CAST(n.n_vecs AS BIGINT) AS n_vecs,
           CAST(g.gram_h AS VARCHAR) AS gram,
           CAST(n.n_vecs * g.gram_h - sa.sv * sb.sv AS VARCHAR) AS scatter
    FROM g
    CROSS JOIN n
    JOIN s sa ON sa.i = g.i
    JOIN s sb ON sb.i = g.j
    ORDER BY g.i, g.j
    """,
    doc="Exact d x d Gram + centered scatter matrix of the embedding "
    "corpus (the PCA / whitening primitive): vectors floor-quantized at "
    f"scale {GRAM_SCALE}, per-partition int64 partial Gram folded in ONE "
    "mapInPandas pass (numpy X^T X per Arrow batch), shuffle carries only "
    "O(partitions * d^2) rows; totals and the n*G - s_i*s_j centering are "
    "exact DECIMAL(38,0), so scatter / (n^2 scale^2) is the bit-defined "
    "covariance on every engine. Published as digit strings (exact at any "
    "magnitude — pandas would down-convert decimals to float64); oracle "
    "replays the quantized outer product as a per-vector self-join in "
    "HUGEINT.",
)
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import gram_scatter

    emb = load(spark, sf_dir, "embeddings")
    g = gram_scatter(emb, "embedding", scale=GRAM_SCALE)
    return g.select(
        "i",
        "j",
        "n_vecs",
        F.col("gram").cast("string").alias("gram"),
        F.col("scatter").cast("string").alias("scatter"),
    ).orderBy("i", "j")


# --- Q: MMR diversified retrieval ------------------------------------------------

MMR_POOL = 12
MMR_K = 6
MMR_LAM = 0.7


def _mmr_oracle(k: int, pool: int, lam: float) -> str:
    """Unrolled greedy-round replay (the BPE-chain idiom): one CTE trio
    per selection step; the λ literals are emitted with full Python repr
    so both engines mix relevance and diversity with bit-identical
    doubles."""
    l_ = repr(lam)
    m_ = repr(1.0 - lam)
    parts = [
        """vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
    scored AS (
      SELECT c.vec_id AS c_id,
             round(list_dot_product(qv, c.v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v))),
                   9) AS rel,
             c.v
      FROM vecs c CROSS JOIN q WHERE c.vec_id <> 0
    ),
    pool AS (SELECT c_id, rel, v FROM scored ORDER BY rel DESC, c_id LIMIT %d),
    sims AS (
      SELECT a.c_id AS a_id, b.c_id AS b_id,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                   9) AS s
      FROM pool a JOIN pool b ON a.c_id <> b.c_id
    ),
    sel1 AS (SELECT c_id, rel, %s * rel AS mmr FROM pool ORDER BY rel DESC, c_id LIMIT 1),
    s1 AS (SELECT c_id FROM sel1)""" % (pool, l_)
    ]
    for r in range(2, k + 1):
        parts.append(
            f"""r{r} AS (
      SELECT p.c_id, p.rel, {l_} * p.rel - {m_} * MAX(s.s) AS mmr
      FROM pool p JOIN sims s ON s.a_id = p.c_id
                             AND s.b_id IN (SELECT c_id FROM s{r - 1})
      WHERE p.c_id NOT IN (SELECT c_id FROM s{r - 1})
      GROUP BY p.c_id, p.rel
    ),
    sel{r} AS (SELECT c_id, rel, mmr FROM r{r} ORDER BY mmr DESC, c_id LIMIT 1),
    s{r} AS (SELECT c_id FROM s{r - 1} UNION ALL SELECT c_id FROM sel{r})"""
        )
    selects = [
        f"SELECT {r} AS step, c_id, rel, mmr FROM sel{r}" for r in range(1, k + 1)
    ]
    return (
        "WITH " + ",\n    ".join(parts) + "\n"
        + "\nUNION ALL\n".join(selects) + "\nORDER BY step"
    )


@query(
    "q_mmr_rerank",
    oracle=_mmr_oracle(MMR_K, MMR_POOL, MMR_LAM),
    doc=f"MMR diversified retrieval (Carbonell & Goldstein 1998): greedy "
    f"top-{MMR_K} maximizing λ·rel − (1−λ)·max-sim-to-selected (λ="
    f"{MMR_LAM}) over a {MMR_POOL}-candidate exact-cosine pool — the "
    "rerank behind retrieval UIs and RAG context builders, keeping "
    "results relevant AND mutually non-redundant. The pool is one "
    "broadcast-probe corpus scan (the cosine_topk plan); the greedy runs "
    "on the driver over pool-sized state (the kcenter bounded-collect "
    "contract); all similarities round to 9 decimals, ties break by id, "
    "and the λ literals ship with full float repr — so the unrolled SQL "
    "replay selects the identical sequence "
    "(operators/similarity.py mmr_topk).",
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_topk

    emb = load(spark, sf_dir, "embeddings")
    query_df = emb.filter(F.col("vec_id") == 0)
    return mmr_topk(
        emb, query_df, "vec_id", "embedding", MMR_K, MMR_POOL, MMR_LAM
    ).orderBy("step")


# --- Q: hard-negative mining for contrastive training ---------------------------

HN_NEGS = 3  # hard negatives mined per anchor (ranks 2..4)


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM vecs WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.q_id, c.vec_id AS c_id,
             round(
               list_dot_product(q.q_vec, c.v)
               / (sqrt(list_dot_product(q.q_vec, q.q_vec)) * sqrt(list_dot_product(c.v, c.v))),
               9
             ) AS score
      FROM vecs c CROSS JOIN q
      WHERE c.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, c_id, score,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      FROM scored
    ),
    pos AS (
      SELECT q_id, c_id AS pos_id, score AS pos_score
      FROM ranked WHERE rank = 1
    ),
    negs AS (
      SELECT q_id, c_id AS neg_id, score AS neg_score, rank AS neg_rank
      FROM ranked WHERE rank BETWEEN 2 AND {1 + HN_NEGS}
    )
    SELECT p.q_id, p.pos_id, p.pos_score,
           n.neg_id, n.neg_score, n.neg_rank,
           p.pos_score - n.neg_score AS margin
    FROM pos p JOIN negs n USING (q_id)
    ORDER BY p.q_id, n.neg_rank
    """,
    doc="Hard-negative mining for contrastive embedding training: per "
    "anchor, the nearest neighbor is the self-supervised POSITIVE and "
    f"ranks 2..{1 + HN_NEGS} are the hard negatives — the (anchor, "
    "positive, negative, margin) triplets an InfoNCE/triplet-loss "
    "pipeline exports (the standard mining recipe: negatives close "
    "enough to be informative, the margin column the curriculum "
    "signal). One exact-cosine pass over the broadcast probe set "
    "produces both roles (the top-k relation is pinned, so the corpus "
    "scan runs once); margins are differences of 9-decimal-rounded "
    "scores, bit-identical cross-engine (operators/similarity.py).",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cachereg import pin

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # one scored+ranked pass feeds the positive AND negative roles
    nn = pin(cosine_topk(emb, queries, "vec_id", "embedding", 1 + HN_NEGS))
    pos = nn.filter(F.col("rank") == 1).select(
        "q_id",
        F.col("c_id").alias("pos_id"),
        F.col("score").alias("pos_score"),
    )
    negs = nn.filter(F.col("rank") >= 2).select(
        "q_id",
        F.col("c_id").alias("neg_id"),
        F.col("score").alias("neg_score"),
        F.col("rank").alias("neg_rank"),
    )
    return (
        pos.join(negs, "q_id")
        .select(
            "q_id",
            "pos_id",
            "pos_score",
            "neg_id",
            "neg_score",
            "neg_rank",
            (F.col("pos_score") - F.col("neg_score")).alias("margin"),
        )
        .orderBy("q_id", "neg_rank")
    )
