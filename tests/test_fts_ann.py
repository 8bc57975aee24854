"""Full-text search goldens (FIXTURES.md §7) + SRP-LSH ANN recall tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from thymeflow_back_spark.algorithms.stemmer import porter_stem
from thymeflow_back_spark.operators.ann import srp_candidate_pairs, srp_near_dup
from thymeflow_back_spark.operators.fts import build_index, match_query


def test_porter_stem_basics():
    assert porter_stem("does") == "doe"
    assert porter_stem("alice") == "alic"
    assert porter_stem("wonders") == "wonder"
    assert porter_stem("wondrs") == "wondr"
    assert porter_stem("running") == "run"
    assert porter_stem("relational") == "relat"


def test_fts_reference_golden(spark):
    # FIXTURES.md §7: corpus/queries with matchPercent 80
    corpus = spark.createDataFrame(
        [("e1", "John Doe"), ("e2", "Does John"), ("e3", "Alice Wonders"), ("e4", "Alic Wondrs")],
        "entity_id string, text string",
    )
    queries = spark.createDataFrame(
        [("John", "John"), ("Doe", "Doe"), ("Alice", "Alice"), ("Wonders", "Wonders")],
        "query_id string, qtext string",
    )
    index = build_index(corpus, "entity_id", "text", stem=True)
    got = {}
    for r in match_query(index, queries, "query_id", "qtext", 80, stem=True).collect():
        got.setdefault(r.query_id, set()).add(r.entity_id)
    assert got["John"] == {"e1", "e2"}
    assert got["Doe"] == {"e1", "e2"}
    assert got["Alice"] == {"e3", "e4"}
    assert got["Wonders"] == {"e3"}


def test_srp_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dims = len(emb.select("embedding").first()[0])
    # brute-force truth at threshold 0.4
    from thymeflow_back_spark.operators.similarity import as_double_array, dot, norm

    vecs = emb.select(
        F.col("vec_id").alias("id"),
        as_double_array(F.col("embedding")).alias("v"),
        norm(as_double_array(F.col("embedding"))).alias("n"),
    ).cache()
    a = vecs.select(F.col("id").alias("a_id"), F.col("v").alias("a_v"), F.col("n").alias("a_n"))
    b = vecs.select(F.col("id").alias("b_id"), F.col("v").alias("b_v"), F.col("n").alias("b_n"))
    truth = {
        (r.a_id, r.b_id)
        for r in a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", (dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n"))).alias("s"))
        .filter(F.col("s") >= 0.4)
        .collect()
    }
    got = {
        (r.a_id, r.b_id)
        for r in srp_near_dup(emb, "vec_id", "embedding", dims, threshold=0.4).collect()
    }
    # verified candidates are always a subset of truth (no false positives)
    assert got <= truth
    # candidate generation must prune the pair space substantially
    n = emb.count()
    n_cands = srp_candidate_pairs(emb, "vec_id", "embedding", dims).count()
    assert n_cands < n * (n - 1) / 2 * 0.6


def test_srp_ann_recall_on_near_duplicates(spark):
    # SRP banding guarantees high recall for HIGH-cosine pairs (P(bit match)
    # = 1 − θ/π). Plant true near-dups (tiny noise → cos > 0.95) and require
    # the LSH path to find nearly all of them.
    import numpy as np

    rnd = np.random.RandomState(7)
    dims = 32
    rows = []
    for i in range(60):
        base = rnd.randn(dims)
        noisy = base + 0.03 * rnd.randn(dims)
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.a_id, r.b_id)
        for r in srp_near_dup(df, "vec_id", "embedding", dims, threshold=0.95).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(60)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}"


def test_semantic_dedup_prunes_within_cluster(spark):
    """Constructed corpus: two tight clusters plus an outlier. Within each
    cluster every later vector must be pruned to the lowest-id leader; the
    outlier and the two leaders survive."""
    import math

    from thymeflow_back_spark.operators.semdedup import semantic_dedup

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        # cluster A: ids 0..2 within ~2 degrees of each other
        (0, unit(0.00)), (1, unit(0.02)), (2, unit(0.04)),
        # cluster B: ids 10..11 around 90 degrees
        (10, unit(1.57)), (11, unit(1.59)),
        # outlier: opposite direction
        (20, unit(3.14)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99, n_cells=3, refine_iters=1
        ).collect()
    }
    assert len(out) == 6
    assert out[0]["keep"] == 1 and out[0]["dup_of"] == -1
    assert out[1]["keep"] == 0 and out[1]["dup_of"] == 0
    assert out[2]["keep"] == 0 and out[2]["dup_of"] == 0
    assert out[10]["keep"] == 1 and out[10]["dup_of"] == -1
    assert out[11]["keep"] == 0 and out[11]["dup_of"] == 10
    assert out[20]["keep"] == 1 and out[20]["dup_of"] == -1
    # pruning is consistent: every dup_of points at a kept leader
    for r in out.values():
        if r["keep"] == 0:
            assert out[r["dup_of"]]["keep"] == 1


def test_semantic_dedup_chain_resolves_to_keeper(spark):
    """Chain 0~1, 1~2 with 0!~2: both 1 and 2 are pruned (order-free
    chain-pruning), 1 points at the keeper 0 and 2's dup_of is the pruned
    1."""
    import math

    from thymeflow_back_spark.operators.semdedup import semantic_dedup

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    # threshold 0.9: adjacent pairs at 0.3 rad apart (cos ~ 0.955) pass,
    # the 0.6 rad endpoints (cos ~ 0.825) fail
    rows = [(0, unit(0.0)), (1, unit(0.3)), (2, unit(0.6))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    raw = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9, n_cells=1, refine_iters=0
        ).collect()
    }
    assert raw[0]["keep"] == 1 and raw[0]["dup_of"] == -1
    assert raw[1]["keep"] == 0 and raw[1]["dup_of"] == 0
    assert raw[2]["keep"] == 0 and raw[2]["dup_of"] == 1  # pruned target


def test_jl_rerank_recall_dominates_jl_only(spark):
    """The JL-shortlist + exact-rerank composition must recover at least
    the recall of ranking in the projected space alone: the reranked
    top-k is the exact-cosine best of a SUPERSET of the projected top-k,
    so per-query recall can only go up. Checked end-to-end via the two
    catalog rows at sf0.001 (same data the oracle gate smoke uses)."""
    from thymeflow_back_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    jl = {
        r["q_id"]: r["recall"]
        for r in QUERIES["q_similarity_jl"].spark(spark, sf).collect()
    }
    rer = {
        r["q_id"]: r["recall"]
        for r in QUERIES["q_similarity_jl_rerank"].spark(spark, sf).collect()
    }
    assert set(rer) == set(jl)
    assert all(rer[q] >= jl[q] for q in jl)
    # and the composition should genuinely help somewhere, not just tie
    assert sum(rer.values()) > sum(jl.values())


def test_mmr_rerank_diversifies(spark):
    """MMR must (a) pick the most relevant candidate first, (b) demote a
    near-duplicate of an already-selected result below a less relevant
    but diverse one, (c) be a permutation-of-input invariant greedy."""
    from thymeflow_back_spark.operators.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),       # the query
        (1, [0.99, 0.1, 0.0]),      # most relevant
        (2, [0.98, 0.11, 0.0]),     # near-duplicate of 1, almost as relevant
        (3, [0.7, 0.0, 0.7]),       # less relevant but diverse
        (4, [0.6, 0.0, -0.8]),      # diverse, least relevant
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = mmr_topk(emb, q, "vec_id", "embedding", 3, pool=4, lam=0.5).collect()
    order = [r.c_id for r in sorted(out, key=lambda r: r.step)]
    assert order[0] == 1                    # relevance leads
    assert order[1] == 3                    # diversity beats the near-dup
    assert 2 not in order[:2]
    # step 1 mmr = lam * rel exactly
    first = [r for r in out if r.step == 1][0]
    assert first.mmr == 0.5 * first.rel
    # repartitioning the corpus never changes the selection
    out2 = mmr_topk(
        emb.repartition(7), q, "vec_id", "embedding", 3, pool=4, lam=0.5
    ).collect()
    assert sorted((r.step, r.c_id) for r in out2) == sorted(
        (r.step, r.c_id) for r in out
    )
    # a multi-row query would corrupt the c_id-keyed greedy state — it
    # must raise, not last-write-wins (round-10 advice fix)
    import pytest

    with pytest.raises(ValueError, match="exactly one query row"):
        mmr_topk(
            emb, emb.filter(F.col("vec_id") <= 1), "vec_id", "embedding", 3
        )
