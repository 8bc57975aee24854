"""Streaming query rows: long-running jobs value-checked via SQL replay.

Registered LAST in the catalog on purpose: the correctness walk runs in
registration order and these rows cost tens of seconds (two full
micro-batch rounds each), so they must never delay the cheap rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..tables import load
from .catalog import query

# --- Q: incremental streaming near-dup (oracle-backed) ------------------------

from .dedup import (  # noqa: E402
    JACCARD_THRESHOLD,
    _PERMS_VALUES,
    _SQL_JACCARD,
    _SQL_SHINGLES,
)


@query(
    "q_streaming_near_dup",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_JACCARD},
    perms(i, a, b) AS (VALUES {_PERMS_VALUES}),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {D.MERSENNE_P} AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id, i, MIN((a * h + b) % {D.MERSENNE_P}) AS mh
      FROM hashed CROSS JOIN perms
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, i // {D.ROWS_PER_BAND} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS bkey
      FROM sig GROUP BY 1, 2
    ),
    within AS (
      SELECT a_id, b_id, n_common, jaccard FROM jac
      WHERE jaccard >= {JACCARD_THRESHOLD} AND a_id % 2 = b_id % 2
    ),
    ccand AS (
      SELECT DISTINCT be.doc_id AS a_id, bo.doc_id AS b_id
      FROM bands be JOIN bands bo USING (band, bkey)
      WHERE be.doc_id % 2 = 0 AND bo.doc_id % 2 = 1
    ),
    cinter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_common
      FROM ccand c
      JOIN sh a ON a.doc_id = c.a_id
      JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    cpairs AS (
      SELECT i.a_id, i.b_id, i.n_common,
             i.n_common / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
      FROM cinter i
      JOIN sizes sa ON sa.doc_id = i.a_id
      JOIN sizes sb ON sb.doc_id = i.b_id
    )
    SELECT a_id, b_id, n_common, jaccard FROM within
    UNION ALL
    SELECT a_id, b_id, n_common, jaccard FROM cpairs
    WHERE jaccard >= {JACCARD_THRESHOLD}
    ORDER BY a_id, b_id
    """,
    doc="The incremental STREAMING near-dup job, value-checked end to end: "
    "even-doc_id documents arrive as micro-batch 1 (building the persistent "
    "MinHash band index), odd ones as micro-batch 2; emitted pairs must "
    "equal within-batch exact blocked pairs plus cross-batch LSH band "
    "collisions verified by exact Jaccard — the oracle replays the batch "
    "split, the signatures, the banding, and the verification in SQL "
    "(streaming/dedup_stream.py).",
)
def q_streaming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.dedup_stream import document_stream, run_incremental_near_dup

    base = tempfile.mkdtemp(prefix="tf_stream_neardup_")
    staging, index, pairs, ckpt = (
        os.path.join(base, d) for d in ("staging", "index", "pairs", "ckpt")
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    for parity in (0, 1):
        docs.filter(F.col("doc_id") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(staging)
        q = run_incremental_near_dup(
            document_stream(spark, staging), index, pairs, ckpt
        )
        q.awaitTermination()
    # materialize BEFORE deleting the temp tree (the read is lazy over the
    # pairs parquet); without the rmtree every walk of this row leaked a
    # full staging+index+checkpoint copy under /tmp
    out = (
        spark.read.parquet(pairs)
        .select("a_id", "b_id", "n_common", "jaccard")
        .orderBy("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out




def _memory_sink_stream(
    spark: SparkSession,
    source: DataFrame,
    parity_col: str,
    schema: str,
    agg_fn,
    sink_prefix: str,
) -> str:
    """Shared scaffold for the complete-mode streaming rows: write ``source``
    as two parity micro-batch files, stream them one file per trigger
    through ``agg_fn(stream)``, drain into a memory sink, clean up the temp
    staging/checkpoint tree, and return the sink table name (results live
    in the sink's memory, so the on-disk scaffolding can go immediately)."""
    import os
    import shutil
    import tempfile
    import uuid

    base = tempfile.mkdtemp(prefix=f"tf_stream_{sink_prefix}_")
    staging = os.path.join(base, "staging")
    ckpt = os.path.join(base, "ckpt")
    for parity in (0, 1):
        source.filter(F.col(parity_col) % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(staging)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    sink = f"{sink_prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        agg_fn(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(base, ignore_errors=True)
    return sink


# --- Q: stateful streaming windowed aggregation (oracle-backed) ---------------


@query(
    "q_streaming_window_counts",
    oracle="""
    SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) AS window_start_us,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Stateful STREAMING windowed aggregation, value-checked end to end: "
    "events arrive as two micro-batches (maxFilesPerTrigger=1) into a "
    "10-minute tumbling-window count whose state carries across batches; "
    "the complete-mode result must hash-match the plain batch GROUP BY "
    "over the same rows — proving the incremental state machine computes "
    "exactly the batch answer.",
)
def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    sink = _memory_sink_stream(
        spark,
        ev,
        "event_id",
        "event_id bigint, ts timestamp, event_type string",
        lambda stream: stream.groupBy(F.window("ts", "10 minutes"), "event_type").count(),
        "win_counts",
    )
    return spark.sql(
        f"SELECT unix_micros(window.start) AS window_start_us, event_type,"
        f" count AS n FROM {sink}"
    ).orderBy("window_start_us", "event_type")


# --- Q: streaming session windows (oracle-backed) -----------------------------

SESSION_GAP_H = 8
_GAP_US = SESSION_GAP_H * 3600 * 1_000_000


@query(
    "q_streaming_sessions",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
    m AS (
      SELECT user_id, t,
             CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                  > {_GAP_US} THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT user_id, t,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY t
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(t) AS session_start_us,
           MAX(t) + {_GAP_US} AS session_end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
    doc="Native STREAMING session windows: per-user session_window with an "
    "8-hour inactivity gap, state merging sessions across two micro-"
    "batches (maxFilesPerTrigger=1); the complete-mode result must "
    "hash-match a batch gaps-and-islands replay (session end = last event "
    "+ gap, the session_window contract). The streaming form of the "
    "batch sessionizer (operators/sessionize.py).",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    sink = _memory_sink_stream(
        spark,
        ev,
        "event_id",
        "event_id bigint, ts timestamp, user_id bigint",
        lambda stream: stream.groupBy(
            F.session_window("ts", f"{SESSION_GAP_H} hours"), "user_id"
        ).agg(F.count(F.lit(1)).alias("n_events")),
        "sessions",
    )
    return spark.sql(
        f"SELECT user_id, unix_micros(session_window.start) AS session_start_us,"
        f" unix_micros(session_window.end) AS session_end_us, n_events"
        f" FROM {sink}"
    ).orderBy("user_id", "session_start_us")


# --- Q: streaming quality-gate profile (oracle-backed) ------------------------


@query(
    "q_streaming_quality_profile",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             len(toks) AS n_words,
             COALESCE(list_max(list_transform(toks, t -> length(t))), 0) AS max_word_len,
             CASE WHEN len(toks) <= 5000 THEN
               list_max(list_transform(list_distinct(toks),
                 t -> len(list_filter(toks, x -> x = t)))) / NULLIF(len(toks), 0)
             END AS rep_ratio,
             len(list_filter(toks, t -> list_contains(
               ['a','an','and','in','is','of','the','to'], t))) / NULLIF(len(toks), 0) AS stopword_ratio,
             len(list_distinct(toks)) / NULLIF(len(toks), 0) AS unique_ratio
      FROM t
    ),
    r AS (
      SELECT *,
        CASE WHEN n_words < 5 THEN 'too_few_words'
             WHEN n_words > 5000 THEN 'too_many_words'
             WHEN max_word_len > 20 THEN 'word_too_long'
             WHEN rep_ratio > 0.25 THEN 'too_repetitive'
             WHEN stopword_ratio < 0.01 THEN 'low_stopword'
             WHEN unique_ratio < 0.3 THEN 'low_diversity'
        END AS drop_reason
      FROM m
    )
    SELECT lang, drop_reason IS NULL AS keep,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM r GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="STREAMING quality-gate profile, value-checked end to end: "
    "documents arrive as two micro-batches, each passes the C4/Gopher "
    "rule chain as a stateless projection, and a per-(lang, keep) count/"
    "token aggregate carries state across batches — the complete-mode "
    "result must hash-match the batch GROUP BY over the same rows. The "
    "live-ingest form of corpus quality monitoring (operators/text.py "
    "quality_filter; scaffold queries/streamdedup.py).",
)
def q_streaming_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_filter

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sink = _memory_sink_stream(
        spark,
        docs,
        "doc_id",
        "doc_id bigint, lang string, text string",
        lambda stream: quality_filter(stream, "doc_id", "text", carry=("lang",))
        .groupBy("lang", "keep")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        ),
        "quality_profile",
    )
    return spark.sql(
        f"SELECT lang, keep, n_docs, total_words FROM {sink}"
    ).orderBy("lang", "keep")


# --- Q: streaming exact heavy hitters (mergeable MG state) --------------------

from .textstats import HH_K  # noqa: E402


@query(
    "q_streaming_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    cnts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
    SELECT token, cnt, CAST(cnt AS DOUBLE) / n AS share
    FROM cnts, tot
    WHERE cnt * {HH_K} > n
    ORDER BY cnt DESC, token
    """,
    doc="STREAMING exact heavy hitters, value-checked end to end: "
    "documents arrive as two micro-batches whose tokens fold into a "
    "persistent MERGEABLE Misra-Gries summary (<= k counters + exact "
    "total, Agarwal et al. PODS 2012 merge per batch — state size "
    "independent of corpus size), then the <= k candidates are recounted "
    "exactly in one broadcast pass. The MG merge keeps the summary a "
    "superset of the true heavy hitters across batches, so the final "
    "answer equals the batch GROUP BY/HAVING — the same oracle as "
    "q_heavy_hitters (streaming/hh_stream.py).",
)
def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..operators.text import toks_col
    from ..streaming.hh_stream import (
        exact_heavy_hitters_from_state,
        run_streaming_heavy_hitters,
    )

    base = tempfile.mkdtemp(prefix="tf_stream_hh_")
    staging = os.path.join(base, "staging")
    state = os.path.join(base, "state")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    for parity in (0, 1):
        docs.filter(F.col("doc_id") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(staging)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    tok_stream = stream.select(F.explode(toks_col("text")).alias("token"))
    q = run_streaming_heavy_hitters(tok_stream, "token", HH_K, state)
    q.awaitTermination()
    tokens = docs.select(F.explode(toks_col("text")).alias("token"))
    out = (
        exact_heavy_hitters_from_state(spark, state, tokens, "token", HH_K)
        .orderBy(F.desc("cnt"), "token")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out


# --- Q: upsert-aware incremental near-dup (oracle-backed) ---------------------

UPD_TRUNC_NUM = 6  # v1 = first 60% of tokens (min 3): the pre-update draft


@query(
    "q_streaming_upsert_dedup",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    c1 AS (  -- batch 1: EVERY document arrives as its v1 draft (60% prefix)
      SELECT doc_id,
             array_to_string(
               toks[1:CAST(GREATEST((len(toks) * {UPD_TRUNC_NUM}) // 10, 3) AS BIGINT)],
               ' ') AS text
      FROM tk
    ),
    c2 AS (  -- batch 2: even docs RE-DELIVERED with their final text
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    t1 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM c1),
    sh1 AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM t1, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) s
    ),
    t2 AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM c2),
    sh2 AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM t2, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) s
    ),
    s1 AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh1 GROUP BY 1),
    s2 AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh2 GROUP BY 1),
    -- within-batch-1 exact pairs, SURVIVING = both endpoints still at v1 (odd)
    i1 AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
      FROM sh1 a JOIN sh1 b USING (shingle)
      WHERE a.doc_id < b.doc_id AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
      GROUP BY 1, 2
    ),
    w1 AS (
      SELECT i.a_id, i.b_id, i.n_common,
             i.n_common / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
      FROM i1 i JOIN s1 sa ON sa.doc_id = i.a_id JOIN s1 sb ON sb.doc_id = i.b_id
    ),
    -- within-batch-2 exact pairs (even docs, final text)
    i2 AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
      FROM sh2 a JOIN sh2 b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    w2 AS (
      SELECT i.a_id, i.b_id, i.n_common,
             i.n_common / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
      FROM i2 i JOIN s2 sa ON sa.doc_id = i.a_id JOIN s2 sb ON sb.doc_id = i.b_id
    ),
    -- cross pairs: surviving old corpus (odd docs at v1) x re-delivered evens
    -- meeting in LSH band buckets, verified with exact Jaccard
    perms(i, a, b) AS (VALUES {_PERMS_VALUES}),
    h1 AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {D.MERSENNE_P} AS h
      FROM sh1 WHERE doc_id % 2 = 1
    ),
    g1 AS (
      SELECT doc_id, i, MIN((a * h + b) % {D.MERSENNE_P}) AS mh
      FROM h1 CROSS JOIN perms GROUP BY 1, 2
    ),
    b1 AS (
      SELECT doc_id, i // {D.ROWS_PER_BAND} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS bkey
      FROM g1 GROUP BY 1, 2
    ),
    h2 AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {D.MERSENNE_P} AS h
      FROM sh2
    ),
    g2 AS (
      SELECT doc_id, i, MIN((a * h + b) % {D.MERSENNE_P}) AS mh
      FROM h2 CROSS JOIN perms GROUP BY 1, 2
    ),
    b2 AS (
      SELECT doc_id, i // {D.ROWS_PER_BAND} AS band,
             string_agg(mh::VARCHAR, ',' ORDER BY i) AS bkey
      FROM g2 GROUP BY 1, 2
    ),
    ccand AS (
      SELECT DISTINCT o.doc_id AS a_id, n.doc_id AS b_id
      FROM b1 o JOIN b2 n USING (band, bkey)
    ),
    ci AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS n_common
      FROM ccand c
      JOIN sh1 a ON a.doc_id = c.a_id
      JOIN sh2 b ON b.doc_id = c.b_id AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    cx AS (
      SELECT i.a_id, i.b_id, i.n_common,
             i.n_common / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
      FROM ci i JOIN s1 sa ON sa.doc_id = i.a_id JOIN s2 sb ON sb.doc_id = i.b_id
    ),
    allp AS (
      SELECT * FROM w1 WHERE jaccard >= {JACCARD_THRESHOLD}
      UNION ALL
      SELECT * FROM w2 WHERE jaccard >= {JACCARD_THRESHOLD}
      UNION ALL
      SELECT * FROM cx WHERE jaccard >= {JACCARD_THRESHOLD}
    )
    SELECT LEAST(a_id, b_id) AS a_id, GREATEST(a_id, b_id) AS b_id,
           n_common, jaccard
    FROM allp
    ORDER BY a_id, b_id
    """,
    doc="UPSERT-aware incremental STREAMING near-dup, value-checked end "
    "to end: batch 1 delivers every document as a v1 draft (60% token "
    "prefix), batch 2 RE-DELIVERS the even documents with their final "
    "text — last writer wins. The persistent band index carries versions "
    "(an entry's batch id; a doc's current version = its max batch in "
    "the docs store, no separate log), stale band entries are excluded "
    "at candidate time, and superseded pairs vanish AT READ (a pair "
    "survives iff both endpoints are still at their emit versions) — no "
    "retraction writes, the reference's document-replacement contract "
    "(Pipeline.scala:61-93) applied to the dedup index. The oracle "
    "replays drafts, band collisions, version filtering, and "
    "verification in SQL (streaming/upsert_dedup.py).",
)
def q_streaming_upsert_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.dedup_stream import document_stream
    from ..streaming.upsert_dedup import current_near_dups, run_upsert_near_dup

    base = tempfile.mkdtemp(prefix="tf_stream_upsert_")
    staging, index, pairs, ckpt = (
        os.path.join(base, d) for d in ("staging", "index", "pairs", "ckpt")
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.selectExpr(
        "doc_id",
        "concat_ws(' ', slice(filter(split(text, ' '), t -> t != ''), 1,"
        f" cast(greatest((size(filter(split(text, ' '), t -> t != ''))"
        f" * {UPD_TRUNC_NUM}) div 10, 3) as int))) as text",
    )
    for b, rel in ((0, v1), (1, docs.filter(F.col("doc_id") % 2 == 0))):
        rel.coalesce(1).write.mode("append").parquet(staging)
        q = run_upsert_near_dup(
            document_stream(spark, staging), index, pairs, ckpt
        )
        q.awaitTermination()
    out = (
        current_near_dups(spark, index, pairs)
        .orderBy("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return out
