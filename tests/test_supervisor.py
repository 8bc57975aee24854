"""Supervisor metadata tree + orchestration and the events-with-stays
geocoder enricher (reference Supervisor.scala:42-116,
EventsWithStaysGeocoderEnricher.scala:49-98)."""

from __future__ import annotations
import pytest

# full supervisor pipeline e2e
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from thymeflow_back_spark.enrichers.events_geocoder import (
    OUTPUT_GRAPH,
    UNCERTAIN_GRAPH,
    events_with_stays_geocoder_enricher,
)
from thymeflow_back_spark.geocoding.geocoder import CachedGeocoder, Feature
from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import QUAD_SCHEMA, XSD_DATETIME, empty_quads
from thymeflow_back_spark.rdf.store import Diff, StatementStore
from thymeflow_back_spark.supervisor import Supervisor

from .test_synchronizers import EML_A, FakeImap, FakePagedGraphApi
from thymeflow_back_spark.sources.synchronizers import (
    EmailSynchronizer,
    FacebookSynchronizer,
)


def test_supervisor_metadata_and_sync(spark):
    inbox = "imap://acc/INBOX"
    imap = FakeImap({inbox: (1, {1: EML_A})})
    store = StatementStore(empty_quads(spark))
    sup = Supervisor(spark, store)
    email_sync = EmailSynchronizer(spark, "acc", imap)
    fb_sync = FacebookSynchronizer(spark, "acc", FakePagedGraphApi())
    iris = sup.add_service_account(
        "Email", "alice@example.org", {"inbox": email_sync}
    )
    iris2 = sup.add_service_account("Facebook", "alice", {"graph": fb_sync})

    meta = sup.store.quads.filter(F.col("graph") == vocab.SERVICE_GRAPH)
    # Service → Account → Source tree committed
    assert meta.filter(
        (F.col("predicate") == vocab.RDF_TYPE) & (F.col("object_value") == vocab.SERVICE)
    ).count() == 2
    assert meta.filter(F.col("predicate") == vocab.ACCOUNT_OF).count() == 2
    assert meta.filter(F.col("predicate") == vocab.SOURCE_OF).count() == 2

    # one round over both sources: its diff links documents of each
    diff = sup.sync_all()
    linked = diff.added.filter(F.col("predicate") == vocab.DOCUMENT_OF)
    assert {r.object_value for r in linked.collect()} == {iris["inbox"], iris2["graph"]}
    # every delivered document graph is linked to its source
    doc_of = sup.store.quads.filter(F.col("predicate") == vocab.DOCUMENT_OF)
    links = {(r.subject, r.object_value) for r in doc_of.collect()}
    assert (f"{inbox}#1", iris["inbox"]) in links
    assert any(src == iris2["graph"] for _, src in links)

    per_source = {
        r.source_name: r.n_documents for r in sup.documents_per_source().collect()
    }
    assert per_source == {"inbox": 1, "graph": 1}

    # document removal retracts the documentOf link
    imap.state[inbox] = (1, {})
    sup.sync_source(iris["inbox"])
    doc_of = sup.store.quads.filter(F.col("predicate") == vocab.DOCUMENT_OF)
    assert (f"{inbox}#1", iris["inbox"]) not in {
        (r.subject, r.object_value) for r in doc_of.collect()
    }


def _geo_fetch(kind: str, query: str) -> list[Feature]:
    """One feature for the Opera bias query, two for the ambiguous cafe."""
    name = query.split("|")[0]
    if name == "Opera":
        return [Feature(name="Opera", lon=2.3316, lat=48.8719)]
    if name == "Cafe":
        return [
            Feature(name="Cafe A", lon=2.35, lat=48.86),
            Feature(name="Cafe B", lon=2.36, lat=48.87),
        ]
    return []


def _quads(spark, rows):
    return spark.createDataFrame(rows, QUAD_SCHEMA)


def test_events_with_stays_geocoder(spark):
    g = "urn:uuid:doc-ev"

    def iri(s, p, o):
        return (s, p, o, "iri", None, None, g)

    def lit(s, p, o, dtype=None):
        return (s, p, o, "literal", dtype, None, g)

    rows = [
        # event at the Opera 10:00-12:00, place has a name but no geo
        iri("urn:ev:1", vocab.RDF_TYPE, vocab.EVENT),
        lit("urn:ev:1", vocab.START_DATE, "2026-03-01T10:00:00Z", XSD_DATETIME),
        lit("urn:ev:1", vocab.END_DATE, "2026-03-01T12:00:00Z", XSD_DATETIME),
        iri("urn:ev:1", vocab.LOCATION, "urn:place:opera"),
        lit("urn:place:opera", vocab.NAME, "Opera"),
        # ambiguous event place
        iri("urn:ev:2", vocab.RDF_TYPE, vocab.EVENT),
        lit("urn:ev:2", vocab.START_DATE, "2026-03-01T10:30:00Z", XSD_DATETIME),
        lit("urn:ev:2", vocab.END_DATE, "2026-03-01T11:00:00Z", XSD_DATETIME),
        iri("urn:ev:2", vocab.LOCATION, "urn:place:cafe"),
        lit("urn:place:cafe", vocab.NAME, "Cafe"),
        # overlapping stay with coordinates
        iri("urn:stay:1", vocab.RDF_TYPE, vocab.STAY),
        lit("urn:stay:1", vocab.START_DATE, "2026-03-01T10:15:00Z", XSD_DATETIME),
        lit("urn:stay:1", vocab.END_DATE, "2026-03-01T11:30:00Z", XSD_DATETIME),
        iri("urn:stay:1", vocab.GEO, "urn:geo:s1"),
        lit("urn:geo:s1", vocab.LATITUDE, "48.8719", "http://www.w3.org/2001/XMLSchema#double"),
        lit("urn:geo:s1", vocab.LONGITUDE, "2.3316", "http://www.w3.org/2001/XMLSchema#double"),
        # an event with NO overlapping stay → not geocoded
        iri("urn:ev:3", vocab.RDF_TYPE, vocab.EVENT),
        lit("urn:ev:3", vocab.START_DATE, "2026-03-05T10:00:00Z", XSD_DATETIME),
        lit("urn:ev:3", vocab.END_DATE, "2026-03-05T12:00:00Z", XSD_DATETIME),
        iri("urn:ev:3", vocab.LOCATION, "urn:place:nowhere"),
        lit("urn:place:nowhere", vocab.NAME, "Nowhere"),
    ]
    quads = _quads(spark, rows)
    store = StatementStore(quads)
    diff = Diff(added=quads, removed=quads.limit(0))
    geocoder = CachedGeocoder(spark, _geo_fetch)

    out = events_with_stays_geocoder_enricher(store, diff, geocoder)
    added = out.added.collect()
    by_graph = {}
    for r in added:
        by_graph.setdefault(r.graph, set()).add((r.subject, r.predicate, r.object_value))

    certain = by_graph[OUTPUT_GRAPH]
    assert ("urn:place:opera", vocab.GEO, "geo:48.8719,2.3316") in certain
    assert ("geo:48.8719,2.3316", vocab.LATITUDE, "48.8719") in certain
    # ambiguous place lands in the uncertain graph with the FIRST feature
    uncertain = by_graph[UNCERTAIN_GRAPH]
    assert ("urn:place:cafe", vocab.GEO, "geo:48.86,2.35") in uncertain
    # no stay overlap → no quads for urn:place:nowhere
    assert not any("nowhere" in s for g in by_graph.values() for s, _, _ in g)

    # trigger guard: a diff without events/stays is a no-op
    empty_diff = Diff(added=quads.limit(0), removed=quads.limit(0))
    assert events_with_stays_geocoder_enricher(store, empty_diff, geocoder).added.count() == 0
