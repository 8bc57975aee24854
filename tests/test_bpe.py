"""BPE trainer: distributed merge learning vs a local reference, encoding
round-trip properties."""

from __future__ import annotations

from collections import Counter

from thymeflow_back_spark.operators.bpe import (
    EOW,
    bpe_encode,
    encode_words,
    train_bpe,
)

CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
    "low lower newest widest new",
]


def local_bpe(texts: list[str], num_merges: int) -> list[tuple[str, str]]:
    """Reference implementation: dict-of-shapes merge loop."""
    counts = Counter(w for t in texts for w in t.split(" ") if w)
    shapes = {w: list(w) + [EOW] for w in counts}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, syms in shapes.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += counts[w]
        if not pairs:
            break
        # deterministic: max count, then lexicographically smallest (a, b)
        top_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top_count)
        if pairs[best] < 2:
            break
        merges.append(best)
        a, b = best
        for w, syms in shapes.items():
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            shapes[w] = out
    return merges


def test_train_bpe_matches_local_reference(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    got = train_bpe(df, "text", 12)
    want = local_bpe(CORPUS, 12)
    assert got == want
    assert len(got) >= 8  # the corpus supports a real merge sequence


def test_bpe_encode_roundtrip_and_consistency(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    merges = train_bpe(df, "text", 10)

    # frequent whole words collapse to single tokens
    [enc] = encode_words(["newest"], merges)
    assert enc == ["newest" + EOW] or len(enc) <= 3

    # concatenating the tokens reproduces the text (lossless segmentation)
    encoded = bpe_encode(df, "text", merges)
    for row in encoded.collect():
        joined = "".join(row.bpe_tokens).replace(EOW, " ").rstrip(" ")
        assert joined == row.text

    # distributed encode == driver-side reference encode
    for row in encoded.collect():
        words = [w for w in row.text.split(" ") if w]
        want = [s for ws in encode_words(words, merges) for s in ws]
        assert list(row.bpe_tokens) == want


def test_train_bpe_batched_equals_sequential_on_corpus(spark):
    from thymeflow_back_spark.operators.bpe import train_bpe_batched

    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    want = train_bpe(df, "text", 12)
    for b in (2, 4, 8):
        got = train_bpe_batched(df, "text", 12, batch=b)
        assert got == want, (b, got, want)


def test_train_bpe_batched_equals_sequential_on_documents(spark):
    from thymeflow_back_spark.operators.bpe import train_bpe_batched

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(80)
    want = train_bpe(docs, "text", 16)
    got = train_bpe_batched(docs, "text", 16, batch=4)
    assert got == want


def test_train_bpe_batched_respects_num_merges(spark):
    from thymeflow_back_spark.operators.bpe import train_bpe_batched

    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    got = train_bpe_batched(df, "text", 3, batch=8)
    assert got == train_bpe(df, "text", 3)
    assert len(got) == 3


def test_encode_memo_is_model_keyed_and_bounded():
    """The per-worker shape memo must never serve one model's encoding to
    another, and must stop growing at the cap."""
    import thymeflow_back_spark.operators.bpe as B

    B._ENCODE_MEMOS.clear()
    m1 = [("l", "o"), ("lo", "w")]
    m2 = [("e", "r"), ("er", B.EOW)]
    memo1, memo2 = B._model_memo(m1), B._model_memo(m2)
    assert B._encode_word("lower", m1, memo1) == ["low", "e", "r", B.EOW]
    assert B._encode_word("lower", m2, memo2) == ["l", "o", "w", "er</w>"]
    # second call is a memo hit returning the identical object
    assert B._encode_word("lower", m1, memo1) is memo1["lower"]
    # model eviction: exceeding the model cap clears rather than grows
    old_max = B._ENCODE_MEMO_MAX_MODELS
    try:
        B._ENCODE_MEMO_MAX_MODELS = 2
        B._model_memo([("x", "y")])
        assert len(B._ENCODE_MEMOS) == 1  # cleared then re-seeded
    finally:
        B._ENCODE_MEMO_MAX_MODELS = old_max
    # shape cap: at the cap new shapes still encode but are not stored
    old_shapes = B._ENCODE_MEMO_MAX_SHAPES
    try:
        B._ENCODE_MEMO_MAX_SHAPES = 1
        memo = {}
        B._encode_word("aa", m1, memo)
        B._encode_word("bb", m1, memo)
        assert list(memo) == ["aa"]
        assert B._encode_word("bb", m1, memo) == ["b", "b", B.EOW]
    finally:
        B._ENCODE_MEMO_MAX_SHAPES = old_shapes
    B._ENCODE_MEMOS.clear()


def test_encode_word_equals_reference_replay():
    from thymeflow_back_spark.operators.bpe import (
        _encode_word,
        encode_words,
        train_bpe,  # noqa: F401  (import parity with module surface)
    )

    merges = [("e", "s"), ("es", "t"), ("est", EOW), ("l", "o"), ("lo", "w")]
    for w in ("lowest", "newest", "widest", "low", "x", "est"):
        assert _encode_word(w, merges, {}) == encode_words([w], merges)[0]


def local_bpe_bytelevel(texts: list[str], num_merges: int) -> list[tuple[str, str]]:
    """Reference byte-level implementation: GPT-2 pretokens, byte symbols
    through the bytes->unicode map, no EOW."""
    import re

    from thymeflow_back_spark.operators.bpe import bytes_to_unicode
    from thymeflow_back_spark.operators.text import PRETOKEN_REGEX

    b2u = bytes_to_unicode()
    # Python re lacks \p{..}: translate for the TEST reference only
    # ([^\W\d_] == unicode letters; the corpora here have ASCII digits)
    pat = re.compile(
        PRETOKEN_REGEX.replace(r"\p{L}", r"[^\W\d_]").replace(r"\p{N}", r"\d")
    )
    counts = Counter(w for t in texts for w in pat.findall(t))
    shapes = {w: [b2u[b] for b in w.encode("utf-8")] for w in counts}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, syms in shapes.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += counts[w]
        if not pairs:
            break
        top_count = max(pairs.values())
        best = min(p for p, c in pairs.items() if c == top_count)
        if pairs[best] < 2:
            break
        merges.append(best)
        a, b = best
        for w, syms in shapes.items():
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            shapes[w] = out
    return merges


def test_bytes_to_unicode_is_a_reversible_256_table():
    from thymeflow_back_spark.operators.bpe import bytes_to_unicode

    t = bytes_to_unicode()
    assert sorted(t) == list(range(256))
    assert len(set(t.values())) == 256  # injective
    assert t[ord("a")] == "a" and t[ord("!")] == "!"
    assert t[ord(" ")] == chr(288)  # 'Ġ'
    assert t[ord("\n")] == chr(266)  # 'Ċ'
    # no mapped char is whitespace or a control char
    assert all(not c.isspace() and c.isprintable() for c in t.values())


def test_train_bpe_bytelevel_matches_local_reference(spark):
    from thymeflow_back_spark.operators.bpe import train_bpe_bytelevel

    # include non-ASCII + punctuation: the Spark path is fully general
    corpus = CORPUS + ["naïve café déjà-vu!", "it's low, it's low..."]
    df = spark.createDataFrame([(t,) for t in corpus], ["text"])
    want = local_bpe_bytelevel(corpus, 14)
    for b in (1, 4):
        got = train_bpe_bytelevel(df, "text", 14, batch=b)
        assert got == want, (b, got, want)


def test_bpe_encode_bytelevel_roundtrip(spark):
    from thymeflow_back_spark.operators.bpe import (
        bpe_encode_bytelevel,
        bytes_to_unicode,
        train_bpe_bytelevel,
    )

    corpus = CORPUS + ["naïve café — twenty£"]
    df = spark.createDataFrame([(t,) for t in corpus], ["text"])
    merges = train_bpe_bytelevel(df, "text", 10)
    u2b = {u: bytes([b]) for b, u in bytes_to_unicode().items()}
    for row in bpe_encode_bytelevel(df, "text", merges).collect():
        # unmapping the concatenated tokens reproduces the exact text
        raw = b"".join(u2b[c] for tok in row.bpe_tokens for c in tok)
        assert raw.decode("utf-8") == row.text


def test_model_cache_opt_in(spark):
    import thymeflow_back_spark.operators.bpe as B

    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    want = B.train_bpe_batched(df, "text", 6, batch=2)
    calls = []
    orig = B._train_batched_core

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    B._train_batched_core = counting
    try:
        # OFF by default: trains every time
        B.train_bpe_batched(df, "text", 6, batch=2)
        B.train_bpe_batched(df, "text", 6, batch=2)
        assert len(calls) == 2
        B.set_bpe_model_cache(True)
        got1 = B.train_bpe_batched(df, "text", 6, batch=2)
        got2 = B.train_bpe_batched(df, "text", 6, batch=2)
        assert len(calls) == 3 and got1 == got2 == want
        # different params miss; byte-level never cross-serves char-level
        B.train_bpe_batched(df, "text", 5, batch=2)
        assert len(calls) == 4
        B.train_bpe_bytelevel(df, "text", 6, batch=2)
        assert len(calls) == 5
    finally:
        B._train_batched_core = orig
        B.set_bpe_model_cache(False)


def test_bpe_encode_merge_shipping_modes_identical(spark):
    """The closure-literal and broadcast-variable merge shipping must be
    bit-identical (the coreset.py centers_mode contract applied to the
    Python side), and auto must flip to broadcast past the crossover."""
    import thymeflow_back_spark.operators.bpe as B

    df = spark.createDataFrame(
        [(1, "low lower lowest newer newest new"), (2, "low new lowest")],
        "doc_id long, text string",
    )
    merges = B.train_bpe(df, "text", 6)
    lit = [
        (r.doc_id, tuple(r.bpe_tokens))
        for r in B.bpe_encode(df, "text", merges, merges_mode="literal")
        .orderBy("doc_id")
        .collect()
    ]
    bcast = [
        (r.doc_id, tuple(r.bpe_tokens))
        for r in B.bpe_encode(df, "text", merges, merges_mode="broadcast")
        .orderBy("doc_id")
        .collect()
    ]
    assert lit == bcast
    # byte-level variant: same contract
    bmerges = B.train_bpe_bytelevel(df, "text", 4)
    blit = [
        (r.doc_id, tuple(r.bpe_tokens))
        for r in B.bpe_encode_bytelevel(df, "text", bmerges, merges_mode="literal")
        .orderBy("doc_id")
        .collect()
    ]
    bbc = [
        (r.doc_id, tuple(r.bpe_tokens))
        for r in B.bpe_encode_bytelevel(df, "text", bmerges, merges_mode="broadcast")
        .orderBy("doc_id")
        .collect()
    ]
    assert blit == bbc
    # auto crossover: below the cap ships a closure literal, above it a
    # broadcast variable
    bc, litlist = B._ship_merges(df, merges, "auto")
    assert bc is None and litlist == list(merges)
    big = merges * (B.BPE_MERGES_LITERAL_MAX // max(len(merges), 1) + 1)
    bc, litlist = B._ship_merges(df, big, "auto")
    assert bc is not None and litlist is None
    assert bc.value == list(big)
