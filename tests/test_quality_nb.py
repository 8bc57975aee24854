"""Naive Bayes quality classifier (operators/quality_nb.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from thymeflow_back_spark.operators.quality_nb import (
    QNB_SCALE,
    nb_classify,
    nb_train,
)

B = 64

GOOD = [
    (1, "the cat sat on the mat and looked at the dog", True),
    (2, "a quick brown fox jumps over the lazy dog in the park", True),
    (3, "the sun rises in the east and sets in the west", True),
]
BAD = [
    (4, "buy buy buy cheap cheap pills pills pills now now", False),
    (5, "click click here here free free money money fast fast", False),
]


def _model(spark):
    df = spark.createDataFrame(GOOD + BAD, "doc_id long, text string, label boolean")
    return df, *nb_train(df, "doc_id", "text", "label", B)


def test_weights_match_closed_form(spark):
    """Bucket weights must equal the hand-computed NB log-odds (add-one
    smoothing, micro-nat quantization) — verified on a single known
    token's bucket against pure-Python math."""
    df, weights, prior = _model(spark)
    # recompute everything in Python
    import hashlib

    def bucket(tok):
        h = int(hashlib.md5(f"qnb: {tok}".encode()).hexdigest()[:8], 16)
        return h % B

    occ = []
    for _id, text, label in GOOD + BAD:
        for t in text.split():
            if t:
                occ.append((bucket(t), label))
    pos_tot = sum(1 for _, l in occ if l)
    neg_tot = sum(1 for _, l in occ if not l)
    got = {r.bucket: r.w_q for r in weights.collect()}
    assert len(got) > 0
    for b in set(b for b, _ in occ):
        pos = sum(1 for bb, l in occ if bb == b and l)
        neg = sum(1 for bb, l in occ if bb == b and not l)
        w = (
            math.log(pos + 1)
            - math.log(neg + 1)
            + math.log(neg_tot + B)
            - math.log(pos_tot + B)
        )
        assert got[b] == round(w * QNB_SCALE), (b, pos, neg)
    p = prior.collect()[0]
    assert p.prior_q == round(
        (math.log(3 + 1) - math.log(2 + 1)) * QNB_SCALE
    )
    assert p.n_pos_docs == 3 and p.n_neg_docs == 2
    assert p.pos_occ == pos_tot and p.neg_occ == neg_tot


def test_classifier_separates_training_classes(spark):
    df, weights, prior = _model(spark)
    out = {r.doc_id: r for r in nb_classify(df, "doc_id", "text", weights, prior, B).collect()}
    assert all(out[i].pred for i, _, _ in GOOD)
    assert not any(out[i].pred for i, _, _ in BAD)
    # score is the one final division of the integer sum
    for r in out.values():
        assert r.score == r.score_q / QNB_SCALE


def test_unseen_bucket_and_empty_doc(spark):
    df, weights, prior = _model(spark)
    new = spark.createDataFrame(
        [(10, "zzzzunseen qqqnovel"), (11, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in nb_classify(new, "doc_id", "text", weights, prior, B).collect()}
    p = prior.collect()[0]
    # empty doc scores exactly the prior
    assert out[11].n_toks == 0 and out[11].score_q == p.prior_q
    # unseen tokens fall back to the zero-count bucket weight IF their
    # bucket never occurred in training (hash collisions may hit a seen
    # bucket — only assert the score is defined and the doc was counted)
    assert out[10].n_toks == 2
    assert out[10].score_q is not None


def test_partitioning_invariance(spark):
    rows = [
        (i, ("the good text with many common words " * 3) if i % 3 else ("spam spam spam " * 4), i % 3 != 0)
        for i in range(30)
    ]
    outs = []
    for parts in (2, 13):
        df = spark.createDataFrame(
            rows, "doc_id long, text string, label boolean"
        ).repartition(parts)
        w, p = nb_train(df, "doc_id", "text", "label", B)
        res = nb_classify(df, "doc_id", "text", w, p, B)
        outs.append(sorted((r.doc_id, r.score_q) for r in res.collect()))
    assert outs[0] == outs[1]


def test_bernoulli_weights_match_closed_form(spark):
    """delta_q / c_q / prior_q must equal the hand-computed Bernoulli NB
    terms (Laplace +1/+2, absent side folded into one constant)."""
    import hashlib

    from thymeflow_back_spark.operators.quality_nb import (
        nb_classify_bernoulli,
        nb_train_bernoulli,
    )

    df = spark.createDataFrame(
        GOOD + BAD, "doc_id long, text string, label boolean"
    )
    w, p = nb_train_bernoulli(df, "doc_id", "text", "label", B)

    def bucket(tok):
        return int(hashlib.md5(f"qnb: {tok}".encode()).hexdigest()[:8], 16) % B

    pres = {}
    for _id, text, label in GOOD + BAD:
        pres[_id] = ({bucket(t) for t in text.split() if t}, label)
    n_pos = sum(1 for _, l in pres.values() if l)
    n_neg = len(pres) - n_pos
    dfs = {}
    for bs, label in pres.values():
        for b in bs:
            dp, dn = dfs.get(b, (0, 0))
            dfs[b] = (dp + label, dn + (not label))
    got = {r.bucket: r.w_q for r in w.collect()}
    wabs_sum = 0
    for b, (dp, dn) in dfs.items():
        delta = (
            math.log(dp + 1) - math.log(n_pos - dp + 1)
            - math.log(dn + 1) + math.log(n_neg - dn + 1)
        )
        assert got[b] == round(delta * QNB_SCALE), b
        wabs = (
            math.log(n_pos - dp + 1) - math.log(n_pos + 2)
            - math.log(n_neg - dn + 1) + math.log(n_neg + 2)
        )
        wabs_sum += round(wabs * QNB_SCALE)
    empty = round(
        (
            math.log(n_pos + 1) - math.log(n_pos + 2)
            - math.log(n_neg + 1) + math.log(n_neg + 2)
        )
        * QNB_SCALE
    )
    row = p.collect()[0]
    assert row.c_q == wabs_sum + (B - len(dfs)) * empty
    assert row.prior_q == round(
        (math.log(n_pos + 1) - math.log(n_neg + 1)) * QNB_SCALE
    )
    # end-to-end score for one doc equals the hand fold
    out = {
        r.doc_id: r
        for r in nb_classify_bernoulli(df, "doc_id", "text", w, p, B).collect()
    }
    for _id, (bs, _) in pres.items():
        expect = row.prior_q + row.c_q + sum(got[b] for b in bs)
        assert out[_id].score_q == expect, _id
        assert out[_id].n_feat == len(bs)
    # training classes separate on the toy corpus
    assert all(out[i].pred for i, _, _ in GOOD)
    assert not any(out[i].pred for i, _, _ in BAD)
