"""Unigram-LM Viterbi segmentation (operators/unigram_lm.py)."""

from __future__ import annotations

import itertools
import math

from pyspark.sql import functions as F

from thymeflow_back_spark.operators.unigram_lm import (
    UNI_SCALE,
    _viterbi_one,
    corpus_words,
    unigram_vocab,
    viterbi_segment,
)


def _brute_best(word: str, lp: dict[str, int], max_piece: int):
    """Enumerate EVERY segmentation into vocab pieces of length <=
    max_piece; pick by (score DESC, n_pieces ASC, starts ASC) — the
    reference order for the DP."""
    n = len(word)
    best = None
    # compositions of n into parts 1..max_piece
    def walk(pos, pieces, starts):
        nonlocal best
        if pos == n:
            score = sum(lp[p] for p in pieces)
            key = (-score, len(pieces), starts)
            cand = (key, (score, len(pieces), " ".join(pieces)))
            if best is None or key < best[0]:
                best = cand
            return
        for l in range(1, min(max_piece, n - pos) + 1):
            p = word[pos : pos + l]
            if p in lp:
                walk(pos + l, pieces + [p], starts + [pos])

    walk(0, [], [])
    return None if best is None else best[1]


def test_vocab_matches_closed_form(spark):
    docs = spark.createDataFrame(
        [(1, "abab ab cd"), (2, "abab abab cd")], "doc_id long, text string"
    )
    vocab = {r.piece: (r.cnt, r.lp_q) for r in unigram_vocab(docs, "text", 2, 3).collect()}
    # word counts: abab x3, ab x1, cd x2; pieces of length <= 2 weighted:
    # 'a': 2*3 + 1 = 7, 'b': 7, 'ab': 2*3 + 1 = 7, 'ba': 3, 'c': 2, 'd': 2, 'cd': 2
    counts = {"a": 7, "b": 7, "ab": 7, "ba": 3, "c": 2, "d": 2, "cd": 2}
    # top-3 by (c DESC, piece ASC): a, ab, b — chars c/d join via the floor
    want = {"a", "ab", "b", "c", "d"}
    assert set(vocab) == want
    tot = sum(counts[p] for p in want)
    for p in want:
        assert vocab[p][0] == counts[p]
        assert vocab[p][1] == round((math.log(counts[p]) - math.log(tot)) * UNI_SCALE)


def test_viterbi_matches_bruteforce_enumeration(spark):
    """The DP must agree with full segmentation enumeration on every word
    — score, piece count AND the split string — under a vocab rigged so
    tie-breaks actually fire (equal-probability pieces)."""
    lp = {"a": -100, "b": -100, "ab": -200, "ba": -150, "abc": -90, "c": -100}
    words = ["a", "ab", "aba", "abab", "abc", "abcab", "cab", "bbb"]
    for w in words:
        got = _viterbi_one(w, lp, 3)
        want = _brute_best(w, lp, 3)
        assert got == want, (w, got, want)
    # 'ab' -> 'a b' (-200) ties 'ab' (-200): fewer pieces wins -> 'ab'
    assert _viterbi_one("ab", lp, 3) == (-200, 1, "ab")
    # unsegmentable word (char outside vocab) is None
    assert _viterbi_one("xy", lp, 3) is None


def test_segment_distributed_matches_local_and_partitioning(spark):
    docs = spark.createDataFrame(
        [(1, "hello world hello"), (2, "world held hell")],
        "doc_id long, text string",
    )
    vocab = unigram_vocab(docs, "text", 4, 16)
    lp = {r.piece: int(r.lp_q) for r in vocab.collect()}
    words = corpus_words(docs, "text").select("word")
    outs = []
    for parts in (1, 7):
        res = viterbi_segment(words.repartition(parts), vocab, "word", 4)
        outs.append(sorted((r.word, r.score_q, r.n_pieces, r.seg) for r in res.collect()))
    assert outs[0] == outs[1]
    for word, score_q, n_pieces, seg in outs[0]:
        assert (score_q, n_pieces, seg) == _viterbi_one(word, lp, 4)
        # the split re-concatenates to the word
        assert seg.replace(" ", "") == word
