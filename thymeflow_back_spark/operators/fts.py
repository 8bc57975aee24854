"""Full-text candidate retrieval: inverted-index match with
minimum-should-match semantics.

Replaces the reference's embedded Elasticsearch (SURVEY.md §2.10,
FullTextSearchServer.scala: matchQuery with minimumShouldMatch 70-80%) with
a pure DataFrame inverted index: explode normalized tokens, equi-join
query tokens against the index, and keep entities matching at least
``ceil(match_percent × query_token_count)`` distinct query tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import pandas as pd
from pyspark.sql.functions import pandas_udf

from ..algorithms.stemmer import porter_stem
from ..functions.text_norm import normalize_text, tokenize


def _analyze(col, stem: bool):
    """Normalize + tokenize (+ optional Porter stemming, the analyzer step
    that gives the reference's search its fuzzy-ish recall)."""
    toks = F.array_distinct(tokenize(normalize_text(col)))
    if not stem:
        return toks

    @pandas_udf("array<string>")
    def stem_all(s: pd.Series) -> pd.Series:
        return s.map(lambda arr: None if arr is None else [porter_stem(t) for t in arr])

    # dedupe AGAIN after stemming: distinct surface forms can merge to one
    # stem ('running runs' -> [run]), and the minimum-should-match contract
    # counts DISTINCT analyzed tokens — without this, stem-merged
    # duplicates double-count in both n_matched and n_query_tokens
    return F.array_distinct(stem_all(toks))


def build_index(
    entities: DataFrame,
    id_col: str,
    text_col: str,
    stem: bool = False,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Inverted index: (entity_id, token) distinct.

    ``max_doc_freq``: drop tokens present in more than this many entities —
    the hot-token cap bounding the candidate join's skew (the ES 10k-hits
    analogue, AgentMatchEnricher.scala:68; stop-tokens carry ~no IDF signal
    but dominate the shuffle at corpus scale)."""
    index = (
        entities.select(
            F.col(id_col).alias("entity_id"),
            F.explode(_analyze(F.col(text_col), stem)).alias("token"),
        )
        .dropDuplicates(["entity_id", "token"])
    )
    if max_doc_freq is not None:
        from .cachereg import pin

        # two consumers (df aggregate + join probe) — without the pin the
        # analyze stage (corpus-wide stemming UDF when stem=True) runs twice
        index = pin(index)
        rare = (
            index.groupBy("token")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("token")
        )
        index = index.join(rare, "token").select("entity_id", "token")
    return index


def match_query(
    index: DataFrame,
    queries: DataFrame,
    query_id_col: str,
    query_text_col: str,
    match_percent: int = 80,
    stem: bool = False,
) -> DataFrame:
    """(query_id, entity_id, n_matched, n_query_tokens) for entities matching
    ≥ match_percent% of the query's distinct tokens."""
    qtoks = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(_analyze(F.col(query_text_col), stem)).alias("token"),
    )
    qsizes = qtoks.groupBy("query_id").agg(F.count("*").alias("n_query_tokens"))
    # the query set is small by construction; broadcasting it keeps the
    # (huge) index un-shuffled — the token join degenerates to a map-side
    # hash probe over the index scan, followed by one partial-agg shuffle
    hits = (
        F.broadcast(qtoks).join(index, "token")
        .groupBy("query_id", "entity_id")
        .agg(F.count("*").alias("n_matched"))
    )
    return (
        hits.join(F.broadcast(qsizes), "query_id")
        .filter(F.col("n_matched") * 100 >= F.col("n_query_tokens") * match_percent)
        .select("query_id", "entity_id", "n_matched", "n_query_tokens")
    )


# --- BM25 ranking -------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_rank(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    score_decimals: int = 6,
    corpus_stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Lucene-practical BM25 ranking of ``docs`` against a bag of query terms.

    The reference's candidate retrieval is an Elasticsearch matchQuery
    (FullTextSearchServer.scala:57-102) — ES doesn't just filter, it RANKS
    by Lucene's BM25 similarity. ``match_query`` reproduces the
    minimum-should-match gate; this reproduces the ranking:

        score(d) = Σ_t  ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                        · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))

    Plan: per-doc (token, tf, dl) via in-row tokenize + one partial-agg
    shuffle; the query-term list is a broadcast literal so postings outside
    the query never shuffle; df per term is a count window over the
    already-filtered postings (query-term-proportional, tiny). Corpus
    stats (N, avgdl) are a single-row broadcast — computed with a SECOND
    corpus scan by default (two scans of a 2-column projection beat
    shuffling the token table doc-wise); at index scale pass the
    precomputed ``corpus_stats=(n_docs, avgdl)`` — Lucene likewise keeps
    them as index metadata — and the plan is one scan. Scores are rounded
    BEFORE ranking so ordering is reproducible across engines.

    Output: (id_col, score, rank) — top ``k`` by (score desc, id asc).
    """
    spark = docs.sparkSession
    # repeated query terms would double-count their contribution (Lucene
    # treats repeats as a boost; this ranker does not) — dedupe, sorted for
    # a deterministic plan
    query_terms = sorted(set(query_terms))
    from .text import toks_col

    base = docs.select(F.col(id_col), toks_col(text_col).alias("toks"))
    if corpus_stats is not None:
        stats = spark.createDataFrame(
            [(int(corpus_stats[0]), float(corpus_stats[1]))], "n_docs bigint, avgdl double"
        )
    else:
        stats = base.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
        )
    tf = (
        base.select(id_col, F.size("toks").alias("dl"), F.explode("toks").alias("tok"))
        .groupBy(id_col, "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = spark.createDataFrame([(t,) for t in query_terms], "tok string")
    # df per term as a window over the ALREADY-FILTERED postings — an
    # aggregate-and-join-back would recompute the whole corpus tf subplan
    # for the df side (observed: duplicated tf exchange in the physical
    # plan); the window shuffles only the query-term postings, once
    postings = tf.join(F.broadcast(terms), "tok").withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        postings.crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * tf_part), score_decimals).alias("score"))
    )
    # top-k first (TakeOrderedAndProject — per-partition heads, no global
    # sort shuffle), THEN number the k surviving rows; the single-partition
    # window only ever sees k rows
    topk = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col, "score", "rank"
    )


def positional_index(
    entities: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Positional postings (entity_id, pos, token) — one row per token
    OCCURRENCE (no distinct: phrase matching needs every position). A pure
    narrow projection off the scan; at corpus scale the phrase join below
    filters per term BEFORE any shuffle, so posting volume per query is
    term-frequency-bounded, never corpus-bounded."""
    return entities.select(
        F.col(id_col).alias("entity_id"),
        F.posexplode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        ).alias("pos", "token"),
    )


def phrase_match(pindex: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact phrase query over positional postings: (entity_id,
    n_occurrences) for entities containing the words of ``phrase`` at
    consecutive positions.

    The classic positional-intersection plan: each term's postings are
    filtered FIRST (predicate reaches the scan), the i-th term's positions
    shift back by i, and (m-1) equi-joins on (entity, pos) leave one row
    per phrase occurrence — never a per-document scan, and join volume is
    bounded by the rarest term's postings."""
    if not phrase:
        raise ValueError("phrase_match: empty phrase")
    base = pindex.filter(F.col("token") == phrase[0]).select(
        "entity_id", "pos"
    )
    for i, w in enumerate(phrase[1:], start=1):
        nxt = pindex.filter(F.col("token") == w).select(
            "entity_id", (F.col("pos") - i).alias("pos")
        )
        base = base.join(nxt, ["entity_id", "pos"])
    return base.groupBy("entity_id").agg(
        F.count("*").alias("n_occurrences")
    )
