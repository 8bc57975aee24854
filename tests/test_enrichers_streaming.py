"""Ingest-round tests: IFP inference across documents and its retraction
on re-delivery, RDFS and OWL forward chaining, and batched multi-document
ingest, all through ``pipeline.ingest``."""

from __future__ import annotations
import pytest

# enricher pipeline e2e (quick tier keeps test_enrichment_suite, test_ingest_model + the RDF closure oracle rows)
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from thymeflow_back_spark.enrichers.ifp import ifp_enricher
from thymeflow_back_spark.enrichers.rdfs import rdfs_enricher
from thymeflow_back_spark.enrichers.ifp import OUTPUT_GRAPH as IFP_GRAPH
from thymeflow_back_spark.enrichers.pipeline import ingest
from thymeflow_back_spark.enrichers.rdfs import SUB_CLASS_OF, SUB_PROPERTY_OF, DOMAIN
from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import make_quads
from thymeflow_back_spark.rdf.store import StatementStore


def iri_q(s, p, o, g):
    return (s, p, o, "iri", None, None, g)


def test_ifp_across_documents(spark):
    ifp = [ifp_enricher]
    store = StatementStore(make_quads(spark, []))
    doc1 = make_quads(spark, [iri_q("agent:a", vocab.EMAIL, "mailto:x@y.z", "g:doc1")])
    store, _ = ingest(store, doc1, ["g:doc1"], ifp)
    # same email in a second document → sameAs both ways in the IFP graph
    doc2 = make_quads(spark, [iri_q("agent:b", vocab.EMAIL, "mailto:x@y.z", "g:doc2")])
    store, diff = ingest(store, doc2, ["g:doc2"], ifp)
    inferred = {
        (r.subject, r.object_value)
        for r in store.quads.filter(F.col("graph") == IFP_GRAPH).collect()
    }
    assert ("agent:a", "agent:b") in inferred and ("agent:b", "agent:a") in inferred
    assert diff.added.filter(F.col("predicate") == vocab.SAME_AS).count() == 2


def test_ifp_respects_differentfrom(spark):
    base = make_quads(
        spark,
        [
            iri_q("agent:a", vocab.EMAIL, "mailto:x@y.z", "g:doc1"),
            iri_q("agent:a", vocab.DIFFERENT_FROM, "agent:b", "g:user"),
        ],
    )
    doc2 = make_quads(spark, [iri_q("agent:b", vocab.EMAIL, "mailto:x@y.z", "g:doc2")])
    store, _ = ingest(StatementStore(base), doc2, ["g:doc2"], [ifp_enricher])
    assert store.quads.filter(F.col("predicate") == vocab.SAME_AS).count() == 0


def test_rdfs_forward_chaining(spark):
    ontology = make_quads(
        spark,
        [
            iri_q("c:Person", SUB_CLASS_OF, "c:Agent", "g:ontology"),
            iri_q("c:Agent", SUB_CLASS_OF, "c:Thing", "g:ontology"),
            iri_q("p:givenName", SUB_PROPERTY_OF, "p:name", "g:ontology"),
            iri_q("p:name", DOMAIN, "c:Named", "g:ontology"),
        ],
    )
    doc = make_quads(
        spark,
        [
            iri_q("x", vocab.RDF_TYPE, "c:Person", "g:doc"),
            ("x", "p:givenName", "Ada", "literal", None, None, "g:doc"),
        ],
    )
    store, diff = ingest(StatementStore(ontology), doc, ["g:doc"], [rdfs_enricher])
    got = {
        (r.subject, r.predicate, r.object_value)
        for r in store.quads.filter(F.col("graph") == "urn:graph:rdfsInferencer").collect()
    }
    assert ("x", vocab.RDF_TYPE, "c:Agent") in got  # subclass
    assert ("x", vocab.RDF_TYPE, "c:Thing") in got  # transitive subclass
    assert ("x", "p:name", "Ada") in got  # subproperty
    assert ("x", vocab.RDF_TYPE, "c:Named") in got  # domain of inferred prop
    # what the store already holds is not added again
    assert rdfs_enricher(store, diff).added.count() == 0


def test_ifp_retraction_on_redelivery(spark):
    """Re-delivering a document MINUS its email triple retracts the
    IFP-derived sameAs pair: the agent's pairs are rederived from the
    store, which no longer holds the premise."""
    ifp = [ifp_enricher]
    store = StatementStore(make_quads(spark, []))
    store, _ = ingest(
        store,
        make_quads(spark, [iri_q("agent:a", vocab.EMAIL, "mailto:x@y.z", "g:doc1")]),
        ["g:doc1"],
        ifp,
    )
    store, _ = ingest(
        store,
        make_quads(
            spark,
            [
                iri_q("agent:b", vocab.EMAIL, "mailto:x@y.z", "g:doc2"),
                iri_q("agent:b", vocab.RDF_TYPE, "c:Person", "g:doc2"),
            ],
        ),
        ["g:doc2"],
        ifp,
    )
    assert store.quads.filter(F.col("predicate") == vocab.SAME_AS).count() == 2

    # redeliver doc2 without the email triple → premise gone → sameAs retracted
    store, diff = ingest(
        store,
        make_quads(spark, [iri_q("agent:b", vocab.RDF_TYPE, "c:Person", "g:doc2")]),
        ["g:doc2"],
        ifp,
    )
    assert store.quads.filter(F.col("predicate") == vocab.SAME_AS).count() == 0
    assert diff.removed.filter(F.col("predicate") == vocab.SAME_AS).count() == 2


def test_ifp_multi_support_survives_single_retraction(spark):
    """Two shared emails support one sameAs pair; removing one premise must
    NOT retract the inference, since the other still derives it."""
    ifp = [ifp_enricher]
    store = StatementStore(make_quads(spark, []))
    store, _ = ingest(
        store,
        make_quads(
            spark,
            [
                iri_q("agent:a", vocab.EMAIL, "mailto:x@y.z", "g:doc1"),
                iri_q("agent:a", vocab.EMAIL, "mailto:x2@y.z", "g:doc1"),
            ],
        ),
        ["g:doc1"],
        ifp,
    )
    store, _ = ingest(
        store,
        make_quads(
            spark,
            [
                iri_q("agent:b", vocab.EMAIL, "mailto:x@y.z", "g:doc2"),
                iri_q("agent:b", vocab.EMAIL, "mailto:x2@y.z", "g:doc2"),
            ],
        ),
        ["g:doc2"],
        ifp,
    )
    assert store.quads.filter(F.col("predicate") == vocab.SAME_AS).count() == 2
    # drop one of the two shared emails from doc2
    store, _ = ingest(
        store,
        make_quads(spark, [iri_q("agent:b", vocab.EMAIL, "mailto:x@y.z", "g:doc2")]),
        ["g:doc2"],
        ifp,
    )
    assert store.quads.filter(F.col("predicate") == vocab.SAME_AS).count() == 2
    # drop the last shared email → retract
    store, _ = ingest(store, make_quads(spark, []), ["g:doc2"], ifp)
    assert store.quads.filter(F.col("predicate") == vocab.SAME_AS).count() == 0


def test_batched_multi_document_ingest(spark):
    """One ``ingest`` call carrying several documents replaces all their
    graphs with one vectorized set-difference and one enricher pass."""
    store = StatementStore(
        make_quads(spark, [iri_q("agent:old", vocab.EMAIL, "mailto:gone@y.z", "g:doc1")])
    )
    batch = make_quads(
        spark,
        [
            iri_q("agent:a", vocab.EMAIL, "mailto:x@y.z", "g:doc1"),
            iri_q("agent:b", vocab.EMAIL, "mailto:x@y.z", "g:doc2"),
            iri_q("agent:c", vocab.RDF_TYPE, "c:Person", "g:doc3"),
        ],
    )
    store, diff = ingest(store, batch, enrichers=[ifp_enricher])
    # doc1's old content replaced, both new docs present, sameAs inferred
    assert diff.removed.filter(F.col("subject") == "agent:old").count() == 1
    assert store.quads.filter(F.col("subject") == "agent:old").count() == 0
    sameas = {
        (r.subject, r.object_value)
        for r in store.quads.filter(F.col("predicate") == vocab.SAME_AS).collect()
    }
    assert sameas == {("agent:a", "agent:b"), ("agent:b", "agent:a")}


def test_batched_ingest_cross_graph_dedup(spark):
    """The same triple delivered by two batch documents lands once, in the
    lexicographically smallest graph (order-free analogue of sequential
    per-document ingest)."""
    batch = make_quads(
        spark,
        [
            iri_q("x", vocab.RDF_TYPE, "c:Person", "g:docB"),
            iri_q("x", vocab.RDF_TYPE, "c:Person", "g:docA"),
        ],
    )
    _, diff = ingest(StatementStore(make_quads(spark, [])), batch)
    rows = diff.added.collect()
    assert len(rows) == 1 and rows[0].graph == "g:docA"


def test_owl_forward_chaining(spark):
    """Parity goldens for ForwardChainingSimpleOWLInferencerConnection.scala:
    23-170: inverseOf both directions, symmetric, transitive chain closure."""
    from thymeflow_back_spark.enrichers.owl import (
        INVERSE_OF,
        OUTPUT_GRAPH,
        SYMMETRIC_PROPERTY,
        TRANSITIVE_PROPERTY,
        owl_enricher,
    )

    ontology = make_quads(
        spark,
        [
            iri_q("p:hasPart", INVERSE_OF, "p:partOf", "g:ontology"),
            iri_q("p:knows", vocab.RDF_TYPE, SYMMETRIC_PROPERTY, "g:ontology"),
            iri_q("p:ancestor", vocab.RDF_TYPE, TRANSITIVE_PROPERTY, "g:ontology"),
        ],
    )
    store, _ = ingest(
        StatementStore(ontology),
        make_quads(
            spark,
            [
                iri_q("x", "p:partOf", "y", "g:doc"),
                iri_q("y", "p:hasPart", "z", "g:doc"),
                iri_q("a", "p:knows", "b", "g:doc"),
                iri_q("c1", "p:ancestor", "c2", "g:doc"),
                iri_q("c2", "p:ancestor", "c3", "g:doc"),
                iri_q("c3", "p:ancestor", "c4", "g:doc"),
            ],
        ),
        ["g:doc"],
        [owl_enricher],
    )
    got = {
        (r.subject, r.predicate, r.object_value)
        for r in store.quads.filter(F.col("graph") == OUTPUT_GRAPH).collect()
    }
    assert ("y", "p:hasPart", "x") in got  # inverseOf: x partOf y → y hasPart x
    assert ("z", "p:partOf", "y") in got  # inverseOf other direction
    assert ("b", "p:knows", "a") in got  # symmetric
    # transitive closure of the 3-link chain
    assert ("c1", "p:ancestor", "c3") in got
    assert ("c1", "p:ancestor", "c4") in got
    assert ("c2", "p:ancestor", "c4") in got


def test_owl_schema_addition_refires_rules(spark):
    """Declaring a property symmetric AFTER its statements exist re-fires
    the rules over the whole store (reference rule-1 variants)."""
    from thymeflow_back_spark.enrichers.owl import SYMMETRIC_PROPERTY, owl_enricher

    base = make_quads(spark, [iri_q("a", "p:knows", "b", "g:doc")])
    store, _ = ingest(
        StatementStore(base),
        make_quads(spark, [iri_q("p:knows", vocab.RDF_TYPE, SYMMETRIC_PROPERTY, "g:schema")]),
        ["g:schema"],
        [owl_enricher],
    )
    got = {(r.subject, r.predicate, r.object_value) for r in store.quads.collect()}
    assert ("b", "p:knows", "a") in got
