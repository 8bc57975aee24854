"""``apply_update`` checked against a pure-Python set model of the updater
(reference Updater.scala:26-196): explicit and graphless adds and removals,
write-back to synchronized graphs that accept or reject it, negation
assertions, re-adds that clear a negation, and the sameAs/differentFrom
pair. Diffs are ground, the shape of INSERT DATA / DELETE DATA."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import NEG_PREFIX, XSD_STRING, negate
from thymeflow_back_spark.rdf.store import Diff, StatementStore
from thymeflow_back_spark.update.updater import USER_GRAPH, apply_update

PREFIX = "urn:uuid:"  # synchronized graphs
ACCEPTS = PREFIX + "accepts"  # its source accepts every write-back
REJECTS = PREFIX + "rejects"  # its source rejects every write-back
OTHER = "urn:graph:other"
GRAPHS = (ACCEPTS, REJECTS, OTHER, USER_GRAPH)
SUBJECTS = ("s1", "s2", "s3")
PREDICATES = ("p:a", "p:b", vocab.SAME_AS, vocab.DIFFERENT_FROM)
OBJECTS = {"o1": ("o1", "iri", None, None), "v": ("v", "literal", XSD_STRING, None)}
DDL = ", ".join(
    f"{c} string"
    for c in ("subject", "predicate", "object_value", "object_type", "object_datatype",
              "object_lang", "graph")
)


def q(s, p, o, g):
    return (s, p, *OBJECTS[o], g)


def spot(quad):
    return quad[:4]


def model_update(store, added, removed, write_back):
    """The updater as set operations: (store after the update, write-back
    calls as (graph, adds, removes) with (s, p, o) triples)."""

    def route(subject):  # the subject's most populated graph, else the user graph
        counts = Counter(x[6] for x in store if x[0] == subject)
        return min(counts, key=lambda g: (-counts[g], g)) if counts else USER_GRAPH

    candidate = {a if a[6] is not None else (*a[:6], route(a[0])) for a in added}
    graphless = {spot(r) for r in removed if r[6] is None}
    removed = {r for r in removed if r[6] is not None} | {x for x in store if spot(x) in graphless}
    sync_adds = {a for a in candidate if a[6].startswith(PREFIX)}
    sync_rms = {r for r in removed if r[6].startswith(PREFIX)}

    calls, accepted = [], set()
    if write_back is not None:
        for g in sorted({x[6] for x in sync_adds | sync_rms}):
            adds = sorted(a[:3] for a in sync_adds if a[6] == g)
            rms = sorted(r[:3] for r in sync_rms if r[6] == g)
            calls.append((g, adds, rms))
            if write_back(g):
                accepted.add(g)

    negations = {
        (s, negate(p), o, t, d, lang, USER_GRAPH)
        for s, p, o, t, d, lang, g in sync_rms
        if g not in accepted
    }
    all_adds = (
        (candidate - sync_adds)
        | {a for a in sync_adds if a[6] in accepted}
        | {(*a[:6], USER_GRAPH) for a in sync_adds if a[6] not in accepted}
    )
    neg_keys = {(s, negate(p), o, t) for s, p, o, t, *_ in all_adds}
    cleared = {
        x
        for x in store
        if (x[1].startswith(NEG_PREFIX) or x[1] in (vocab.SAME_AS, vocab.DIFFERENT_FROM))
        and spot(x) in neg_keys
    }
    return (store - removed - cleared) | all_adds | negations, calls


def _accepts(graph: str) -> bool:
    return graph == ACCEPTS


def _impl_update(spark, store, added, removed, mode):
    """(store rows after apply_update, write-back calls), with no write-back
    (mode "none") or one taking (s, p, o) rows (mode "rows")."""
    calls = []

    def write_back(graph, adds, removes):
        calls.append((graph, sorted(adds), sorted(removes)))
        return _accepts(graph)

    out = apply_update(
        StatementStore(spark.createDataFrame(sorted(store, key=str), DDL)),
        Diff(spark.createDataFrame(sorted(added, key=str), DDL),
             spark.createDataFrame(sorted(removed, key=str), DDL)),
        synchronized_graph_prefix=PREFIX,
        write_back=None if mode == "none" else write_back,
    )
    return {tuple(r) for r in out.quads.collect()}, calls


def _quads(predicates, graphs):
    return st.builds(q, st.sampled_from(SUBJECTS), st.sampled_from(predicates),
                     st.sampled_from(sorted(OBJECTS)), st.sampled_from(graphs))


@st.composite
def updates(draw):
    store = draw(st.sets(_quads((*PREDICATES, NEG_PREFIX + "p:a"), GRAPHS), max_size=8))
    added = draw(st.sets(_quads(PREDICATES, (*GRAPHS, None)), max_size=3))
    removed = draw(st.sets(_quads(PREDICATES, (*GRAPHS, None)), max_size=2))
    if store:  # removals that hit the store, explicitly or graphless
        hits = draw(st.sets(st.sampled_from(sorted(store, key=str)), max_size=2))
        removed |= {h if draw(st.booleans()) else (*h[:6], None) for h in hits}
    mode = draw(st.sampled_from(("none", "rows")))
    return store, added, removed, mode


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(updates())
# write-back accepted: the add stays in the source graph, the removal asserts nothing
@example(({q("s1", "p:a", "o1", ACCEPTS)}, {q("s1", "p:b", "v", ACCEPTS)},
          {q("s1", "p:a", "o1", ACCEPTS)}, "rows"))
# write-back rejected: the add moves to the user graph, the removal asserts a negation
@example(({q("s1", "p:a", "o1", REJECTS)}, {q("s1", "p:b", "v", REJECTS)},
          {q("s1", "p:a", "o1", REJECTS)}, "rows"))
# graphless add routed to the dominant (synchronized) graph, graphless removal expanded
@example(({q("s1", "p:a", "o1", REJECTS), q("s1", "p:b", "o1", REJECTS),
           q("s1", "p:a", "v", OTHER)},
          {q("s1", "p:b", "v", None), q("s2", "p:a", "o1", None)},
          {q("s1", "p:a", "o1", None)}, "none"))
# a re-add clears the negation
@example(({q("s1", NEG_PREFIX + "p:a", "o1", USER_GRAPH)}, {q("s1", "p:a", "o1", USER_GRAPH)},
          set(), "none"))
# removing sameAs asserts differentFrom; adding sameAs clears a differentFrom
@example(({q("s1", vocab.SAME_AS, "o1", REJECTS)}, set(),
          {q("s1", vocab.SAME_AS, "o1", REJECTS)}, "none"))
@example(({q("s1", vocab.DIFFERENT_FROM, "o1", USER_GRAPH)},
          {q("s1", vocab.SAME_AS, "o1", OTHER)}, set(), "rows"))
def test_apply_update_matches_set_model(spark, update):
    store, added, removed, mode = update
    want = model_update(store, added, removed, None if mode == "none" else _accepts)
    assert _impl_update(spark, store, added, removed, mode) == want
