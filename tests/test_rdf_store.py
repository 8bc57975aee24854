"""StatementStore semantics tests — behavioral parity with the reference's
document-replace pipeline (Pipeline.scala:61-93) and negation/dedup filters
(AbstractEnricher.scala:26-58)."""

from __future__ import annotations

from thymeflow_back_spark.rdf.model import XSD_STRING, make_quads, negate
from thymeflow_back_spark.rdf.store import StatementStore


def q(s, p, o, g, otype="literal", dtype=XSD_STRING):
    return (s, p, o, otype, dtype if otype == "literal" else None, None, g)


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_document_replace_diff(spark):
    store = StatementStore(
        make_quads(spark, [q("s1", "name", "Alice", "g:doc1"), q("s1", "age", "30", "g:doc1")])
    )
    new_doc = make_quads(
        spark, [q("s1", "name", "Alice", "g:doc1"), q("s1", "age", "31", "g:doc1")]
    )
    store2, diff = store.add_document("g:doc1", new_doc)
    assert rows(diff.added) == {q("s1", "age", "31", "g:doc1")}
    assert rows(diff.removed) == {q("s1", "age", "30", "g:doc1")}
    assert rows(store2.quads) == {
        q("s1", "name", "Alice", "g:doc1"),
        q("s1", "age", "31", "g:doc1"),
    }
    # idempotent re-delivery: same doc again → empty diff
    store3, diff2 = store2.add_document("g:doc1", new_doc)
    assert diff2.added.count() == 0 and diff2.removed.count() == 0
    assert rows(store3.quads) == rows(store2.quads)


def test_cross_context_dedup(spark):
    # a triple already present in ANOTHER graph is not re-added
    store = StatementStore(make_quads(spark, [q("s1", "name", "Alice", "g:other")]))
    store2, diff = store.add_document(
        "g:doc1", make_quads(spark, [q("s1", "name", "Alice", "g:doc1"), q("s1", "x", "y", "g:doc1")])
    )
    assert rows(diff.added) == {q("s1", "x", "y", "g:doc1")}
    assert rows(store2.quads) == {q("s1", "name", "Alice", "g:other"), q("s1", "x", "y", "g:doc1")}


def test_negation_blocks_resync(spark):
    # an asserted negation prevents synchronization from resurrecting a triple
    store = StatementStore(
        make_quads(spark, [q("s1", negate("name"), "Alice", "g:user")])
    )
    store2, diff = store.add_document(
        "g:doc1", make_quads(spark, [q("s1", "name", "Alice", "g:doc1"), q("s1", "name", "Bob", "g:doc1")])
    )
    assert rows(diff.added) == {q("s1", "name", "Bob", "g:doc1")}
    assert q("s1", "name", "Alice", "g:doc1") not in rows(store2.quads)
