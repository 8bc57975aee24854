"""Trained quality classifier: hashed-unigram Naive Bayes log-odds.

Production curation pipelines (CCNet, RefinedWeb) pair their RULE chains
with a TRAINED lightweight linear filter — a fasttext-style classifier
over hashed n-gram features, usually distilled from a reference corpus or
from the rules themselves. This module is the closed-form, SGD-free
member of that family: multinomial Naive Bayes over hashed word unigrams.
Its decision function is linear in the document's feature counts (exactly
the fasttext shape), but the weights are CLOSED-FORM functions of integer
counts — no epochs, no learning rate, no RNG — so training is two
aggregates and the whole train+serve pipeline is bit-identical on any
engine and any partitioning (the requirement every oracle-checked
operator in this repo meets).

Model (add-one smoothing over B hashed buckets):

    w(j)    = ln(pos_j + 1) − ln(neg_j + 1) + ln(NEG + B) − ln(POS + B)
    w_unseen= ln(NEG + B) − ln(POS + B)            (zero-count bucket)
    prior   = ln(n_pos_docs + 1) − ln(n_neg_docs + 1)
    score(x)= prior + Σ_occurrences w(bucket(tok));  predict pos iff > 0

pos_j / neg_j are the bucket's token-occurrence counts in positive /
negative training documents; POS / NEG the class occurrence totals.

Float discipline (the dsir.py idiom): transcendentals run ONCE PER BUCKET
(B rows), each weight quantizes to integer micro-nats
(round(1e6·w) as BIGINT), and a document's score is an order-free BIGINT
sum of quantized terms plus the quantized prior — float summation order
never enters, so Spark and DuckDB agree bit-for-bit.

Scale (100 TB story): the token explode is map-side and collapses
immediately to B hashed buckets, so the training shuffle is
O(partitions × B) with map-side combine; the weight table is B rows,
broadcast to the scoring scan; the per-document fold is the one
data-sized shuffle (groupBy id). No Python rows, no vocabulary shuffle.

Reference context: the reference pipeline has no learned text filter
(its enrichers are rule/inference-based, Pipeline.scala); this is the
beyond-reference training-data operator the round briefs call for,
alongside the rule gate (operators/text.py quality_filter), the bigram
LM (text.py bigram_lm_scores) and DSIR (operators/dsir.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QNB_SALT = "qnb"
QNB_SCALE = 1_000_000  # micro-nat quantization grid (dsir.py LOGW_SCALE)
QNB_BUCKETS = 1024


def _bucket(tok: Column, n_buckets: int) -> Column:
    """Hashed-unigram bucket id: first 8 md5 hex chars mod n_buckets —
    the dsir.py hash family, unigram arity."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(" ", F.lit(QNB_SALT + ":"), tok)), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return (h % n_buckets).alias("bucket")


# Exact integer length buckets (CASE chain, no transcendentals): the one
# quality signal a bag of unigrams cannot carry is DOCUMENT LENGTH (the
# rule gate's dominant drop reason), so it rides as an explicit hashed
# feature token 'len:<bucket>' — the standard fasttext feature-engineering
# move, exact in both engines.
_LEN_EDGES = (5, 16, 64, 256, 1024, 4096)


def _len_bucket(n: Column) -> Column:
    out = F.lit(len(_LEN_EDGES))
    for i, edge in reversed(list(enumerate(_LEN_EDGES))):
        out = F.when(n < F.lit(edge), F.lit(i)).otherwise(out)
    return out


def unigram_bucket_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    *extra: str,
    length_feature: bool = False,
) -> DataFrame:
    """One row per token OCCURRENCE: (id, *extra, bucket). Map-side
    explode straight into the hashed bucket id — the feature space never
    exists unhashed. ``length_feature`` adds one 'len:<bucket>' feature
    occurrence per document (hashed into the same space)."""
    toks = F.expr(f"filter(split({text_col}, ' '), t -> t != '')")
    base = df.select(
        F.col(id_col), *[F.col(c) for c in extra], F.explode(toks).alias("__t")
    ).select(F.col(id_col), *extra, _bucket(F.col("__t"), n_buckets))
    if not length_feature:
        return base
    ltok = F.concat(
        F.lit("len:"), _len_bucket(F.size(toks)).cast("string")
    )
    lrow = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        _bucket(ltok, n_buckets),
    )
    return base.unionByName(lrow)


def nb_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = QNB_BUCKETS,
    length_feature: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Train the NB log-odds model on labeled documents.

    Returns ``(weights, prior)``:

    - ``weights``: (bucket, w_q) — per-bucket quantized log-odds, at most
      ``n_buckets`` rows (broadcast-sized by construction),
    - ``prior``: ONE row (prior_q, unseen_q, n_pos_docs, n_neg_docs,
      pos_occ, neg_occ) — the class prior, the zero-count bucket weight
      (both quantized), and the audit counts.

    Both are exact functions of integer counts; ln() runs once per bucket
    plus four times for the totals.
    """
    occ = unigram_bucket_rows(
        df, id_col, text_col, n_buckets, label_col,
        length_feature=length_feature,
    )
    # counts is the model's whole training state (<= n_buckets rows) and
    # feeds THREE consumers (totals, weights, the prior's totals) —
    # checkpoint it so the corpus explode+aggregate runs once, not once
    # per consumer
    counts = (
        occ.groupBy("bucket")
        .agg(
            F.count_if(F.col(label_col)).alias("pos_cnt"),
            F.count_if(~F.col(label_col)).alias("neg_cnt"),
        )
        .localCheckpoint(eager=True)
    )
    docs = df.groupBy().agg(
        F.count_if(F.col(label_col)).alias("n_pos_docs"),
        F.count_if(~F.col(label_col)).alias("n_neg_docs"),
    )
    return nb_model_from_counts(counts, docs, n_buckets)


def nb_model_from_counts(
    counts: DataFrame, docs: DataFrame, n_buckets: int = QNB_BUCKETS
) -> tuple[DataFrame, DataFrame]:
    """Derive (weights, prior) from the model's SUFFICIENT STATISTICS:
    ``counts`` = (bucket, pos_cnt, neg_cnt) occurrence counts and ``docs``
    = ONE row (n_pos_docs, n_neg_docs). The statistics are plain integer
    sums, so they MERGE: accumulating them per micro-batch and deriving
    the model from the running totals (streaming/nb_stream.py) is
    bit-identical to batch training over everything seen — the mergeable-
    sufficient-statistics property that makes NB the incrementally-
    trainable member of the filter family."""
    totals = counts.agg(
        F.sum("pos_cnt").alias("__pos_tot"), F.sum("neg_cnt").alias("__neg_tot")
    )
    w = (
        F.log(F.col("pos_cnt") + F.lit(1))
        - F.log(F.col("neg_cnt") + F.lit(1))
        + F.log(F.col("__neg_tot") + F.lit(n_buckets))
        - F.log(F.col("__pos_tot") + F.lit(n_buckets))
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(w * F.lit(QNB_SCALE), 0).cast("bigint").alias("w_q"),
    )
    prior = docs.crossJoin(F.broadcast(totals)).select(
        F.round(
            (
                F.log(F.col("n_pos_docs") + F.lit(1))
                - F.log(F.col("n_neg_docs") + F.lit(1))
            )
            * F.lit(QNB_SCALE),
            0,
        )
        .cast("bigint")
        .alias("prior_q"),
        F.round(
            (
                F.log(F.col("__neg_tot") + F.lit(n_buckets))
                - F.log(F.col("__pos_tot") + F.lit(n_buckets))
            )
            * F.lit(QNB_SCALE),
            0,
        )
        .cast("bigint")
        .alias("unseen_q"),
        "n_pos_docs",
        "n_neg_docs",
        F.col("__pos_tot").cast("bigint").alias("pos_occ"),
        F.col("__neg_tot").cast("bigint").alias("neg_occ"),
    )
    return weights, prior


def nb_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    prior: DataFrame,
    n_buckets: int = QNB_BUCKETS,
    length_feature: bool = False,
) -> DataFrame:
    """Score documents with a trained model: (id, n_toks, score_q, score,
    pred). ONE corpus scan joined against the broadcast weight table; a
    bucket the training never saw contributes the model's zero-count
    weight (unseen_q), and a zero-token document scores the prior alone.
    score_q is the order-free BIGINT micro-nat sum; score = score_q/1e6
    is one final division; pred = score_q > 0."""
    occ = unigram_bucket_rows(
        df, id_col, text_col, n_buckets, length_feature=length_feature
    )
    per_doc = (
        occ.join(F.broadcast(weights), "bucket", "left")
        .crossJoin(F.broadcast(prior.select("unseen_q")))
        .select(
            F.col(id_col),
            F.coalesce(F.col("w_q"), F.col("unseen_q")).alias("__w"),
        )
        .groupBy(id_col)
        .agg(F.count("*").alias("n_toks"), F.sum("__w").alias("__sum_q"))
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .crossJoin(F.broadcast(prior.select("prior_q")))
        .select(
            F.col(id_col),
            F.coalesce("n_toks", F.lit(0)).cast("bigint").alias("n_toks"),
            (
                F.col("prior_q") + F.coalesce(F.col("__sum_q"), F.lit(0))
            ).alias("score_q"),
        )
        .withColumn(
            "score", F.col("score_q").cast("double") / F.lit(float(QNB_SCALE))
        )
        .withColumn("pred", F.col("score_q") > F.lit(0))
    )


# --- Bernoulli NB variant -------------------------------------------------------
#
# Multinomial NB sums PRESENT-occurrence weights, so it cannot penalize a
# document for what is MISSING — yet the strongest rule-gate signals are
# absences (a spam-ish document lacks stopwords; a template lacks
# vocabulary diversity). Bernoulli NB models per-bucket PRESENCE: each
# bucket contributes ln p(present|class) when present and
# ln p(absent|class) when absent. Folding the absent side into one model
# constant C keeps scoring one presence-join:
#
#   delta(j) = ln(df⁺+1) − ln(N⁺−df⁺+1) − ln(df⁻+1) + ln(N⁻−df⁻+1)
#   wabs(j)  = ln(N⁺−df⁺+1) − ln(N⁺+2) − ln(N⁻−df⁻+1) + ln(N⁻+2)
#   C        = Σ_j wabs(j)   (over ALL B buckets; unobserved ones share
#                             one closed-form term, counted not summed)
#   score(x) = prior + C + Σ_{j present in x} delta(j)
#
# (df± = docs of that class containing bucket j, N± = class doc counts,
# Laplace +1/+2.) Same float discipline: every ln() runs once per BUCKET,
# quantizes to micro-nat BIGINTs, and scores are order-free integer sums.


def nb_train_bernoulli(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = QNB_BUCKETS,
    length_feature: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Train the Bernoulli-NB model; returns ``(weights, prior)`` with
    weights = (bucket, delta_q) over observed buckets and prior = ONE row
    (prior_q, c_q, unseen_delta_q, n_pos_docs, n_neg_docs)."""
    pres = unigram_bucket_rows(
        df, id_col, text_col, n_buckets, label_col,
        length_feature=length_feature,
    ).dropDuplicates([id_col, "bucket", label_col])
    dfs = (
        pres.groupBy("bucket")
        .agg(
            F.count_if(F.col(label_col)).alias("df_pos"),
            F.count_if(~F.col(label_col)).alias("df_neg"),
        )
        .localCheckpoint(eager=True)
    )
    docs = df.groupBy().agg(
        F.count_if(F.col(label_col)).alias("n_pos"),
        F.count_if(~F.col(label_col)).alias("n_neg"),
    )
    j = dfs.crossJoin(F.broadcast(docs))
    delta = (
        F.log(F.col("df_pos") + F.lit(1))
        - F.log(F.col("n_pos") - F.col("df_pos") + F.lit(1))
        - F.log(F.col("df_neg") + F.lit(1))
        + F.log(F.col("n_neg") - F.col("df_neg") + F.lit(1))
    )
    wabs = (
        F.log(F.col("n_pos") - F.col("df_pos") + F.lit(1))
        - F.log(F.col("n_pos") + F.lit(2))
        - F.log(F.col("n_neg") - F.col("df_neg") + F.lit(1))
        + F.log(F.col("n_neg") + F.lit(2))
    )
    per_bucket = j.select(
        "bucket",
        F.round(delta * F.lit(QNB_SCALE), 0).cast("bigint").alias("delta_q"),
        F.round(wabs * F.lit(QNB_SCALE), 0).cast("bigint").alias("__wabs_q"),
    ).localCheckpoint(eager=True)
    weights = per_bucket.select("bucket", F.col("delta_q").alias("w_q"))
    # model constants: one row — observed wabs sum + the unobserved
    # buckets' shared closed-form term, COUNTED (integer multiply)
    empty_wabs = (
        F.log(F.col("n_pos") + F.lit(1))
        - F.log(F.col("n_pos") + F.lit(2))
        - F.log(F.col("n_neg") + F.lit(1))
        + F.log(F.col("n_neg") + F.lit(2))
    )
    unseen_delta = (
        F.log(F.col("n_neg") + F.lit(1)) - F.log(F.col("n_pos") + F.lit(1))
    )
    obs = per_bucket.agg(
        F.sum("__wabs_q").alias("__wabs_sum"),
        F.count("*").alias("__n_obs"),
    )
    prior = (
        docs.crossJoin(F.broadcast(obs))
        .select(
            F.round(
                (
                    F.log(F.col("n_pos") + F.lit(1))
                    - F.log(F.col("n_neg") + F.lit(1))
                )
                * F.lit(QNB_SCALE),
                0,
            )
            .cast("bigint")
            .alias("prior_q"),
            (
                F.col("__wabs_sum")
                + (F.lit(n_buckets) - F.col("__n_obs"))
                * F.round(empty_wabs * F.lit(QNB_SCALE), 0).cast("bigint")
            )
            .cast("bigint")
            .alias("c_q"),
            F.round(unseen_delta * F.lit(QNB_SCALE), 0)
            .cast("bigint")
            .alias("unseen_delta_q"),
            F.col("n_pos").cast("bigint").alias("n_pos_docs"),
            F.col("n_neg").cast("bigint").alias("n_neg_docs"),
        )
    )
    return weights, prior


def nb_classify_bernoulli(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    prior: DataFrame,
    n_buckets: int = QNB_BUCKETS,
    length_feature: bool = False,
) -> DataFrame:
    """Score documents with a Bernoulli model: (id, n_feat, score_q,
    score, pred). One DISTINCT-presence scan joined against the broadcast
    delta table; buckets never seen in training contribute the model's
    unseen delta; a document with no features scores prior + C."""
    pres = unigram_bucket_rows(
        df, id_col, text_col, n_buckets, length_feature=length_feature
    ).dropDuplicates([id_col, "bucket"])
    per_doc = (
        pres.join(F.broadcast(weights), "bucket", "left")
        .crossJoin(F.broadcast(prior.select("unseen_delta_q")))
        .select(
            F.col(id_col),
            F.coalesce(F.col("w_q"), F.col("unseen_delta_q")).alias("__w"),
        )
        .groupBy(id_col)
        .agg(F.count("*").alias("n_feat"), F.sum("__w").alias("__sum_q"))
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .crossJoin(F.broadcast(prior.select("prior_q", "c_q")))
        .select(
            F.col(id_col),
            F.coalesce("n_feat", F.lit(0)).cast("bigint").alias("n_feat"),
            (
                F.col("prior_q")
                + F.col("c_q")
                + F.coalesce(F.col("__sum_q"), F.lit(0))
            ).alias("score_q"),
        )
        .withColumn(
            "score", F.col("score_q").cast("double") / F.lit(float(QNB_SCALE))
        )
        .withColumn("pred", F.col("score_q") > F.lit(0))
    )
