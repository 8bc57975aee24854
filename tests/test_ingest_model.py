"""``ingest`` with the IFP enricher checked against a pure-Python set model
(reference Pipeline.scala:61-93). Each round re-delivers one to three
document graphs: the batch replaces them under the four add rules of
``add_documents``, then the IFP graph becomes the IFP rule applied to the
post-round store, minus the pairs a differentFrom vetoes. The store and
both sides of the round's diff are compared after every round."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from thymeflow_back_spark.enrichers.ifp import IFP_PREDICATES, OUTPUT_GRAPH, ifp_enricher
from thymeflow_back_spark.enrichers.pipeline import ingest
from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import NEG_PREFIX, QUAD_SCHEMA, XSD_STRING, local_relation
from thymeflow_back_spark.rdf.store import StatementStore

DOC1, DOC2, DOC3 = DOCS = ("g:doc1", "g:doc2", "g:doc3")
AGENTS = ("a", "b", "c")
SAME, DIFFERENT = vocab.SAME_AS, vocab.DIFFERENT_FROM


def iri(s, p, o):
    return (s, p, o, "iri", None, None)


def email(s, value="mailto:x"):
    return iri(s, vocab.EMAIL, value)


def name(s, lang=None):
    return (s, "p:name", "v", "literal", None if lang else XSD_STRING, lang)


# IFP premises: agents sharing a value become sameAs
PREMISES = [email(s, v) for s in AGENTS for v in ("mailto:x", "mailto:y")] + [
    iri(s, vocab.TELEPHONE, "tel:1") for s in AGENTS
]
# sameAs / differentFrom between agents: the special negation pair
IDENTITY = [iri(s, p, o) for s in AGENTS for o in AGENTS if s != o for p in (SAME, DIFFERENT)]
# negations, a literal that looks like a premise, and one literal value with
# two datatype/lang forms (same triple identity, different quads)
OTHER = (
    [iri(s, NEG_PREFIX + vocab.EMAIL, "mailto:x") for s in AGENTS]
    + [(s, vocab.EMAIL, "mailto:x", "literal", XSD_STRING, None) for s in AGENTS]
    + [name(s, lang) for s in AGENTS for lang in (None, "en")]
)


def spo(quad):
    return quad[:4]


# -- the model ---------------------------------------------------------------


def blocked(store):
    """Triple identities an asserted negation keeps out: the negation
    prefix, and sameAs / differentFrom blocking each other."""
    swap = {SAME: DIFFERENT, DIFFERENT: SAME}
    return {
        (s, p[len(NEG_PREFIX):], o, t) for s, p, o, t, *_ in store if p.startswith(NEG_PREFIX)
    } | {(s, swap[p], o, t) for s, p, o, t, *_ in store if p in swap}


def model_add_documents(store, new, graphs):
    """Replace every batch graph: (store, added, removed)."""
    batch = set(graphs) | {x[6] for x in new}
    current = {x for x in store if x[6] in batch}
    elsewhere = {spo(x) for x in store - current}
    kept = new & current
    candidates = {
        x
        for x in new - current
        if spo(x) not in elsewhere  # (1) the triple is in a graph outside the batch
        and not any(spo(k) == spo(x) and k[6] != x[6] for k in kept)  # (2) another graph keeps it
    }
    added = {
        x
        for x in candidates
        if x[6] == min(c[6] for c in candidates if spo(c) == spo(x))  # (3) smallest graph wins
        and spo(x) not in blocked(store)  # (4) a negation blocks it
    }
    removed = current - new
    return (store - removed) | added, added, removed


def ifp_graph(store):
    """The IFP rule on ``store``: agents sharing a premise value are sameAs
    both ways, unless a differentFrom between them vetoes the pair."""
    values = {(s, p, o) for s, p, o, t, *_ in store if p in IFP_PREDICATES and t == "iri"}
    different = {(min(s, o), max(s, o)) for s, p, o, *_ in store if p == DIFFERENT}
    pairs = {
        (min(s, t), max(s, t)) for s, p, o in values for t, q, u in values if (q, u) == (p, o) and s != t
    }
    return {
        (x, SAME, y, "iri", None, None, OUTPUT_GRAPH)
        for a, b in pairs - different
        for x, y in ((a, b), (b, a))
    }


def model_ingest(store, deliveries):
    """One ``ingest`` round: (store, added, removed)."""
    new = {(*t, g) for g, triples in deliveries.items() for t in triples}
    post, added, removed = model_add_documents(store, new, deliveries)
    old, inferred = {x for x in post if x[6] == OUTPUT_GRAPH}, ifp_graph(post)
    return (post - old) | inferred, added | (inferred - old), removed | (old - inferred)


# -- the implementation ------------------------------------------------------


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


deliveries = st.dictionaries(
    st.sampled_from(DOCS),
    st.frozensets(
        st.one_of(st.sampled_from(PREMISES), st.sampled_from(IDENTITY), st.sampled_from(OTHER)),
        max_size=3,
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(st.lists(deliveries, min_size=3, max_size=4))
# a re-delivery minus a premise retracts the sameAs pair
@example([{DOC1: {email("a")}}, {DOC2: {email("b"), name("b")}}, {DOC2: {name("b")}}])
# two shared values: one retraction keeps the pair, the second removes it
@example([{DOC1: {email("a"), email("a", "mailto:y")}, DOC2: {email("b"), email("b", "mailto:y")}},
          {DOC2: {email("b")}}, {DOC2: set()}])
# the same triple added by two batch graphs lands in the smallest one
@example([{DOC3: {name("a")}, DOC1: {name("a")}}, {DOC1: set()}, {DOC3: {name("a")}}])
# a differentFrom delivered while sameAs(a, b) is stored is blocked
@example([{DOC1: {email("a")}, DOC2: {email("b")}}, {DOC3: {iri("a", DIFFERENT, "b")}},
          {DOC1: set()}, {DOC3: {iri("a", DIFFERENT, "b")}}])
# both premises of a pair gone in one batch
@example([{DOC1: {email("a")}, DOC2: {email("b")}}, {DOC1: set(), DOC2: set()}, {DOC3: {email("c")}}])
# withdrawing the differentFrom that vetoed a pair brings the pair back
@example([{DOC1: {email("a")}, DOC2: {email("b")}, DOC3: {iri("a", DIFFERENT, "b")}}, {DOC3: set()},
          {DOC1: {email("a")}}])
def test_ingest_matches_set_model(spark, rounds):
    store, m_store = StatementStore(local_relation(spark, [], QUAD_SCHEMA)), set()
    for deliveries in rounds:
        rows = sorted({(*t, g) for g, triples in deliveries.items() for t in triples}, key=str)
        store, diff = ingest(store, local_relation(spark, rows, QUAD_SCHEMA), sorted(deliveries),
                             [ifp_enricher])
        m_store, m_added, m_removed = model_ingest(m_store, deliveries)
        assert _rows(store.quads) == Counter(m_store)
        assert _rows(diff.added) == Counter(m_added)
        assert _rows(diff.removed) == Counter(m_removed)


def _plan_length(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_ifp_rounds_keep_bounded_lineage(spark):
    """Ten ``ingest`` rounds, each replacing one document's premise so
    sameAs pairs come and go: the store's plan does not grow with the
    round number."""
    store, m_store = StatementStore(local_relation(spark, [], QUAD_SCHEMA)), set()
    store_plans = []
    for i in range(10):
        deliveries = {DOCS[i % 3]: {email(f"agent{i}")}}
        rows = [(*t, g) for g, triples in deliveries.items() for t in triples]
        store, _ = ingest(store, local_relation(spark, rows, QUAD_SCHEMA), sorted(deliveries),
                          [ifp_enricher])
        m_store, _, _ = model_ingest(m_store, deliveries)
        store_plans.append(_plan_length(store.quads))
    assert _rows(store.quads) == Counter(m_store)
    # the last three agents share the value: three pairs, both ways
    assert len({x for x in m_store if x[6] == OUTPUT_GRAPH}) == 6
    assert max(store_plans) <= store_plans[0] + 50
