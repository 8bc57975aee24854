"""Update routing: apply a user-issued diff with write-back semantics.

Parity with reference Updater.scala:26-196 (SURVEY.md §3.3):

- adds WITH an explicit graph go to that graph;
- adds WITHOUT a graph are routed to a "possible context" inferred from the
  subject's existing graphs (most-populated source graph), else to the user
  graph;
- removals are applied locally; a removal from a SYNCHRONIZED source graph
  additionally asserts a negation quad in the user graph so the next sync
  cannot resurrect the triple (write-back to IMAP/files always fails in the
  reference — the negation is the durable record of the user's intent);
- adds a source rejects land in the user graph (here: sources are
  represented by a write_back callback; None means "cannot write back",
  the reference's IMAP/file behavior).

An update diff is user-scale — a handful of statements, as in the
reference's in-memory diff — so it is collected to the driver once and
routed there. One filtered store lookup fetches the statements the update
can touch; it answers the routing of graphless adds, the expansion of
graphless removals and which negations a re-add clears. Write-backs are
grouped per graph on the driver, and the update ends in a single
``apply_diff(...).materialize()``.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

from pyspark.sql import functions as F

from ..rdf.model import QUAD_SCHEMA, is_negation, local_relation, negate
from ..rdf.store import Diff, StatementStore

USER_GRAPH = "urn:graph:userData"

Quad = tuple  # the QUAD_COLUMNS values of one statement

# write_back(graph, adds, removes) -> bool (True = source accepted), with
# adds and removes as (subject, predicate, object_value) tuples
WriteBack = Callable[[str, list[tuple], list[tuple]], bool]


def _collect(diff: Diff) -> tuple[set[Quad], set[Quad]]:
    """Both sides of a user-scale diff, in one job."""
    rows = diff.tagged().collect()
    added = {tuple(r)[:-1] for r in rows if r["__added"]}
    return added, {tuple(r)[:-1] for r in rows if not r["__added"]}


def _lookup(store: StatementStore, added: set[Quad], removed: set[Quad]) -> list[Quad]:
    """The store statements the update can touch: every statement of a
    subject a graphless add is routed by, plus the candidates for graphless
    removals and for the negations the adds clear (matched exactly on the
    driver)."""
    route = {q[0] for q in added if q[6] is None}
    keys = {q[:2] for q in removed if q[6] is None} | {(q[0], negate(q[1])) for q in added}
    if not route and not keys:
        return []
    cond = F.col("subject").isin(sorted(route)) | (
        F.col("subject").isin(sorted({s for s, _ in keys}))
        & F.col("predicate").isin(sorted({p for _, p in keys}))
    )
    return [tuple(r) for r in store.quads.filter(cond).collect()]


def _write_back(adds: set[Quad], removes: set[Quad], write_back: WriteBack | None) -> set[str]:
    """Offer each synchronized graph its adds and removes; return the graphs
    whose source accepted them."""
    if write_back is None:
        return set()
    accepted = set()
    for g in sorted({q[6] for q in adds | removes}):
        g_adds = sorted((q[:3] for q in adds if q[6] == g), key=str)
        g_removes = sorted((q[:3] for q in removes if q[6] == g), key=str)
        if write_back(g, g_adds, g_removes):
            accepted.add(g)
    return accepted


def apply_update(
    store: StatementStore,
    diff: Diff,
    synchronized_graph_prefix: str = "urn:uuid:",
    write_back: WriteBack | None = None,
) -> StatementStore:
    """Apply a SPARQL-UPDATE-style diff with source write-back routing."""
    added, removed = _collect(diff)
    if not added and not removed:
        return store
    known = _lookup(store, added, removed)

    def route(subject: str) -> str:
        """The subject's most populated graph, ties to the smallest IRI,
        else the user graph (Updater.scala:109-130)."""
        counts = Counter(q[6] for q in known if q[0] == subject)
        return min(counts, key=lambda g: (-counts[g], g)) if counts else USER_GRAPH

    def synced(q: Quad) -> bool:
        return q[6].startswith(synchronized_graph_prefix)

    adds = {q if q[6] is not None else (*q[:6], route(q[0])) for q in added}
    # a context-less DELETE means "this triple, wherever it lives"
    # (Updater.scala:138-144)
    anywhere = {q[:4] for q in removed if q[6] is None}
    removed = {q for q in removed if q[6] is not None} | {q for q in known if q[:4] in anywhere}

    # adds and removals in synchronized graphs go through the source's
    # write-back (Updater.scala:47-75); a rejected removal asserts a
    # negation, a rejected add moves to the user graph (kept in the source
    # graph it would be lost on the next idempotent document re-delivery)
    accepted = _write_back({q for q in adds if synced(q)}, {q for q in removed if synced(q)}, write_back)

    def rejected(q: Quad) -> bool:
        return synced(q) and q[6] not in accepted

    negations = {(q[0], negate(q[1]), *q[2:6], USER_GRAPH) for q in removed if rejected(q)}
    adds = {(*q[:6], USER_GRAPH) if rejected(q) else q for q in adds}

    # a user re-add clears any matching negation quad (reference Updater.
    # scala:34-36) — otherwise a once-removed triple stays suppressed forever,
    # since add_documents anti-joins sync adds against negations on every sync
    clears = {(q[0], negate(q[1]), *q[2:4]) for q in adds}
    cleared = {q for q in known if is_negation(q[1]) and q[:4] in clears}

    spark = store.quads.sparkSession
    effective = Diff(
        local_relation(spark, sorted(adds | negations, key=str), QUAD_SCHEMA),
        local_relation(spark, sorted(removed | cleared, key=str), QUAD_SCHEMA),
    )
    return store.apply_diff(effective).materialize()
