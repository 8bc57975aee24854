"""Property-based tests (hypothesis): the N-Triples writer's round trip and
scalar-function invariants that unit goldens can't sweep.

Driver-side properties run pure-Python helpers (phone normalization, the
SPARQL parser) so thousands of examples stay cheap; Spark jobs are reserved
for one columnar batch per property.
"""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import example, given, settings
from hypothesis import strategies as st

from thymeflow_back_spark.functions.phone import display_phone, normalize_phone
from thymeflow_back_spark.rdf.io import serialize_ntriples
from thymeflow_back_spark.rdf.model import XSD_STRING, make_quads

# --- N-Triples: what the endpoint serves reads back as the quads ------------
# Hypothesis draws the quads; each property serializes all of them in one
# Spark batch through ``serialize_ntriples`` and reads the lines back with a
# reader of the N-Triples subset the serializer emits.

_NT_TERM = r'<[^<>"\s]*>|_:[A-Za-z0-9]+'
_NT_LINE = re.compile(
    rf'({_NT_TERM}) <([^<>"\s]*)> '
    rf'(?:({_NT_TERM})|"((?:[^"\\\n\r]|\\[\\"nrt])*)"(?:@([A-Za-z]+(?:-[A-Za-z0-9]+)*)|\^\^<([^<>"\s]*)>)?) \.'
)
_NT_UNESCAPE = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}


def _nt_term(text: str) -> tuple[str, str]:
    return (text, "bnode") if text.startswith("_:") else (text[1:-1], "iri")


def _read_ntriples(line: str) -> tuple:
    """One N-Triples line → (subject, predicate, value, type, datatype, lang)."""
    m = _NT_LINE.fullmatch(line)
    assert m, f"not an N-Triples line: {line!r}"
    subj, pred, term, text, lang, dtype = m.groups()
    subject = _nt_term(subj)[0]
    if term is not None:
        return (subject, pred, *_nt_term(term), None, None)
    value = re.sub(r"\\(.)", lambda e: _NT_UNESCAPE[e.group(1)], text)
    if lang is None and dtype is None:
        dtype = XSD_STRING
    return (subject, pred, value, "literal", dtype, lang)


def _expected(quad: tuple) -> tuple:
    """What N-Triples keeps of a quad: no graph; a language tag wins over a
    datatype; a plain literal is an xsd:string."""
    s, p, o, otype, dtype, lang, _ = quad
    if otype != "literal":
        return (s, p, o, otype, None, None)
    if lang is not None:
        return (s, p, o, otype, None, lang)
    return (s, p, o, otype, dtype or XSD_STRING, None)


def _drawn(strategy, n: int = 300) -> list:
    """``n`` examples Hypothesis draws from ``strategy``."""
    out = []

    @settings(max_examples=n, deadline=None, database=None)
    @given(strategy)
    def draw(x):
        out.append(x)

    draw()
    return out


def _assert_roundtrip(spark, quads: list[tuple]) -> None:
    lines = [r.line for r in serialize_ntriples(make_quads(spark, quads)).collect()]
    got = Counter(_read_ntriples(line) for line in lines)
    want = Counter(_expected(q) for q in quads)
    assert got == want, (
        f"missing {list((want - got).elements())[:3]}, extra {list((got - want).elements())[:3]}"
    )


_iri = st.from_regex(r"urn:[a-zA-Z0-9._:/#-]{1,30}", fullmatch=True)
_bnode = st.from_regex(r"_:[A-Za-z0-9]{1,12}", fullmatch=True)
_text = st.text(
    alphabet=st.one_of(
        st.sampled_from('"\\\n\r\t\'@^<>. '),
        st.characters(blacklist_categories=("Cs",)),  # no lone surrogates
    ),
    max_size=40,
)
_lang = st.from_regex(r"[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8}){0,2}", fullmatch=True)


def _literal(s=_iri, text=_text, dtype=st.just(XSD_STRING), lang=st.none()):
    return st.tuples(s, _iri, text, st.just("literal"), dtype, lang, st.just("g"))


def test_ntriples_roundtrip_literals(spark):
    """Quotes, backslashes, line breaks, tabs and non-ASCII text survive."""
    _assert_roundtrip(spark, _drawn(_literal()))


def test_ntriples_roundtrip_lang_and_datatypes(spark):
    """Language tags (whatever datatype rides along), xsd:string, other
    datatypes and untyped literals."""
    tagged = _literal(dtype=st.sampled_from([None, XSD_STRING]), lang=_lang)
    typed = _literal(dtype=st.one_of(st.none(), st.just(XSD_STRING), _iri))
    _assert_roundtrip(spark, _drawn(st.one_of(tagged, typed)))


def test_ntriples_roundtrip_bnode_subjects(spark):
    """Blank-node subjects, with IRI, blank-node and literal objects."""
    resources = st.tuples(
        _bnode,
        _iri,
        st.one_of(st.tuples(_iri, st.just("iri")), st.tuples(_bnode, st.just("bnode"))),
    ).map(lambda t: (t[0], t[1], *t[2], None, None, "g"))
    _assert_roundtrip(spark, _drawn(st.one_of(resources, _literal(s=_bnode))))


# --- phone normalization invariants ------------------------------------------

_phoneish = st.text(alphabet="0123456789+()-. /", min_size=1, max_size=24)


@settings(max_examples=500, deadline=None)
@given(raw=_phoneish)
def test_normalize_phone_canonical_or_rejected(raw):
    """Output is always canonical tel:+digits within E.164 bounds — and
    normalization is idempotent (normalize(normalize(x)) == normalize(x))."""
    out = normalize_phone(raw)
    if out is None:
        return
    assert re.fullmatch(r"tel:\+[0-9]{6,15}", out)
    assert normalize_phone(out) == out
    disp = display_phone(out)
    assert disp.startswith("+") and " " in disp


# --- SPARQL parser never crashes unstructured --------------------------------

_junk = st.text(alphabet="?{}()<>.;,*=!&|\"' abcdefSELECTWHERE0123", max_size=60)


@settings(max_examples=300, deadline=None)
@given(text=_junk)
def test_sparql_parser_total(text):
    """The parser either parses or raises SyntaxError — no other exception
    class escapes (MalformedQueryException→400 parity needs that)."""
    from thymeflow_back_spark.plans.sparql import _Parser

    try:
        _Parser(text).parse_query()
    except SyntaxError:
        pass


# --- BPE merge-scan properties (operators/bpe.py) ------------------------------

_bpe_sym = st.text(alphabet="abcXY", min_size=1, max_size=3)


@given(
    syms=st.lists(_bpe_sym, min_size=0, max_size=12),
    a=_bpe_sym,
    b=_bpe_sym,
)
@example(syms=["X", "X", "X", "X"], a="X", b="X")
def test_merge_pair_matches_string_replace(syms, a, b):
    """_merge_pair's left-to-right non-overlapping scan must equal the
    DOUBLED-delimiter str.replace formulation — the SAME construction every
    BPE SQL oracle uses (queries/pipeline.py joins symbols with doubled
    delimiters, '·a··b·', so consecutive matches are character-disjoint and
    left-to-right replace equals the non-overlapping merge scan). A single
    delimiter is NOT equivalent: adjacent matches of a repeated symbol share
    the boundary delimiter and replace under-merges (['X','X','X','X'] with
    merge (X,X) must give [XX, XX], not [XX, X, X])."""
    from thymeflow_back_spark.operators.bpe import _merge_pair

    got = _merge_pair(list(syms), a, b)
    d = "\x00"
    # wrapped = d + sym1 + dd + sym2 + dd + ... + symN + d  (doubled between)
    wrapped = d + (d + d).join(syms) + d if syms else d
    replaced = wrapped.replace(f"{d}{a}{d}{d}{b}{d}", f"{d}{a + b}{d}")
    ref = [s for s in replaced.split(d) if s != ""]
    assert got == ref


def test_bytes_to_unicode_is_reversible_and_printable():
    from thymeflow_back_spark.operators.bpe import bytes_to_unicode

    table = bytes_to_unicode()
    assert len(table) == 256
    assert len(set(table.values())) == 256  # bijection
    for ch in table.values():
        assert len(ch) == 1 and not ch.isspace()
    inv = {v: k for k, v in table.items()}
    for raw in (b"hello world", bytes(range(256)), "naïve café".encode()):
        mapped = "".join(table[x] for x in raw)
        assert bytes(inv[c] for c in mapped) == raw


# --- MMR greedy vs independent reference (operators/similarity.py) -------------


def test_mmr_matches_reference_greedy(spark):
    """mmr_topk (pool cut on Spark, greedy on the driver) must equal an
    independent pure-Python implementation of pool-then-greedy with the
    same rounding and tie-breaks, across seeded random instances."""
    import math
    import random

    from pyspark.sql import functions as F

    from thymeflow_back_spark.operators.similarity import (
        SCORE_DECIMALS,
        mmr_topk,
    )

    rng = random.Random(77)
    for trial in range(4):
        n, d, pool, k, lam = 12, 4, 7, 5, 0.6
        vecs = {
            i: [rng.uniform(-1, 1) for _ in range(d)] for i in range(n)
        }

        def dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        def cos(a, b):
            return round(
                dot(vecs[a], vecs[b])
                / (math.sqrt(dot(vecs[a], vecs[a])) * math.sqrt(dot(vecs[b], vecs[b]))),
                SCORE_DECIMALS,
            )

        rel = {i: cos(0, i) for i in vecs if i != 0}
        pool_ids = [i for i, _ in sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))[:pool]]
        chosen = []
        expect = []
        for step in range(1, k + 1):
            best = None
            for c in sorted(pool_ids):
                if c in chosen:
                    continue
                ms = max((cos(c, s) for s in chosen), default=0.0)
                score = lam * rel[c] - (1.0 - lam) * ms
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            chosen.append(best[1])
            expect.append((step, best[1]))
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs.items()],
            "vec_id long, embedding array<double>",
        )
        q = emb.filter(F.col("vec_id") == 0)
        got = sorted(
            (r.step, r.c_id)
            for r in mmr_topk(emb, q, "vec_id", "embedding", k, pool, lam).collect()
        )
        assert got == expect, (trial, got, expect)


# --- Stupid-backoff LM vs pure-Python reference (operators/backoff_lm.py) -------


def test_backoff_lm_matches_reference(spark):
    """backoff_lm_scores must equal an independent per-position Python
    fold (same quantization) on seeded random corpora — every backoff
    level exercised."""
    import math
    import random

    from thymeflow_back_spark.operators.backoff_lm import (
        LM_SCALE,
        LNQ_ALPHA,
        backoff_lm_scores,
    )

    rng = random.Random(99)
    words = [f"w{i}" for i in range(12)]
    train_rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 15))))
        for i in range(8)
    ]
    score_rows = [
        (100 + i, " ".join(rng.choice(words + ["oov1", "oov2"]) for _ in range(rng.randint(3, 10))))
        for i in range(5)
    ]

    def toks(t):
        return [w for w in t.split(" ") if w]

    tri, bi, uni = {}, {}, {}
    for _, t in train_rows:
        ts = toks(t)
        for i in range(len(ts) - 2):
            tri[tuple(ts[i : i + 3])] = tri.get(tuple(ts[i : i + 3]), 0) + 1
        for i in range(len(ts) - 1):
            bi[tuple(ts[i : i + 2])] = bi.get(tuple(ts[i : i + 2]), 0) + 1
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
    N = sum(uni.values())

    def lnq(x):
        return round(math.log(x) * LM_SCALE)

    expect = {}
    for did, t in score_rows:
        ts = toks(t)
        if len(ts) < 3:
            continue
        s = 0
        for i in range(len(ts) - 2):
            w1, w2, w3 = ts[i : i + 3]
            if (w1, w2, w3) in tri:
                s += lnq(tri[(w1, w2, w3)]) - lnq(bi[(w1, w2)])
            elif (w2, w3) in bi:
                s += LNQ_ALPHA + lnq(bi[(w2, w3)]) - lnq(uni[w2])
            else:
                s += 2 * LNQ_ALPHA + lnq(uni.get(w3, 0) + 1) - lnq(N + 1)
        expect[did] = (len(ts) - 2, s)

    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    score = spark.createDataFrame(score_rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_trigrams, r.score_q)
        for r in backoff_lm_scores(train, score, "doc_id", "text").collect()
    }
    assert out == expect
