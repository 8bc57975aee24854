"""LocationEventEnricher: attach stays to overlapping, nearby events.

Parity with reference LocationEventEnricher.scala:25-95: events (schema:
Event with startDate/endDate and an optional Place geo) are matched to
stays (personal:Stay with startDate/endDate/geo); each match emits one
``(event, schema:location, stay)`` quad in the enricher's graph. The match
predicate (interval overlap, >20 % of the event, ≤1 km when both geocoded)
lives in operators/location_events.py as a bucketized interval join — the
reference's in-heap double loop become a bounded shuffle.

Trigger discipline: the enricher only fires when the diff adds event or
stay statements (the reference's trigger guard shape,
LocationStayEnricher.scala:44-50), and then matches NEW events against ALL
stays plus ALL events against NEW stays — diff×store, never store×store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.location_events import match_events_to_stays
from ..rdf import vocab
from ..rdf.model import QUAD_COLUMNS
from ..rdf.store import Diff, StatementStore, _anti

OUTPUT_GRAPH = "urn:graph:locationEventEnricher"


def _interval_entities(quads: DataFrame, rdf_type: str, prefix: str) -> DataFrame:
    """Property-table extraction: id, {prefix}_start_us/_end_us/_lat/_lon
    for every resource of ``rdf_type`` with start+end dates; coordinates
    come from the resource's schema:geo node when present."""
    typed = quads.filter(
        (F.col("predicate") == vocab.RDF_TYPE) & (F.col("object_value") == rdf_type)
    ).select(F.col("subject").alias("id"))
    starts = quads.filter(F.col("predicate") == vocab.START_DATE).select(
        F.col("subject").alias("id"),
        F.unix_micros(F.to_timestamp("object_value")).alias(f"{prefix}_start_us"),
    )
    ends = quads.filter(F.col("predicate") == vocab.END_DATE).select(
        F.col("subject").alias("id"),
        F.unix_micros(F.to_timestamp("object_value")).alias(f"{prefix}_end_us"),
    )
    geo = quads.filter(F.col("predicate") == vocab.GEO).select(
        F.col("subject").alias("id"), F.col("object_value").alias("geo")
    )
    lat = quads.filter(F.col("predicate") == vocab.LATITUDE).select(
        F.col("subject").alias("geo"),
        F.col("object_value").cast("double").alias(f"{prefix}_lat"),
    )
    lon = quads.filter(F.col("predicate") == vocab.LONGITUDE).select(
        F.col("subject").alias("geo"),
        F.col("object_value").cast("double").alias(f"{prefix}_lon"),
    )
    coords = geo.join(lat, "geo", "left").join(lon, "geo", "left").drop("geo")
    return (
        typed.join(starts, "id")
        .join(ends, "id")
        .join(coords, "id", "left")
        .withColumnRenamed("id", f"{prefix}_id")
        .dropDuplicates([f"{prefix}_id"])
    )


def location_event_enricher(store: StatementStore, diff: Diff) -> Diff:
    touched = diff.added.filter(
        (
            (F.col("predicate") == vocab.RDF_TYPE)
            & (F.col("object_value").isin(vocab.EVENT, vocab.STAY))
        )
        | (F.col("predicate").isin(vocab.START_DATE, vocab.END_DATE, vocab.GEO))
    )
    empty = Diff(store.quads.filter(F.lit(False)), store.quads.filter(F.lit(False)))
    if touched.isEmpty():
        return empty

    events = _interval_entities(store.quads, vocab.EVENT, "event")
    stays = _interval_entities(store.quads, vocab.STAY, "stay")
    touched_subjects = touched.select(F.col("subject").alias("id")).unionByName(
        touched.select(F.col("object_value").alias("id"))
    ).dropDuplicates()
    new_events = events.join(
        touched_subjects, events["event_id"] == touched_subjects["id"], "left_semi"
    )
    new_stays = stays.join(
        touched_subjects, stays["stay_id"] == touched_subjects["id"], "left_semi"
    )

    matches = match_events_to_stays(new_events, stays).unionByName(
        match_events_to_stays(events, new_stays)
    ).select("event_id", "stay_id").dropDuplicates()

    added = _anti(
        matches.select(
            F.col("event_id").alias("subject"),
            F.lit(vocab.LOCATION).alias("predicate"),
            F.col("stay_id").alias("object_value"),
            F.lit("iri").alias("object_type"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(OUTPUT_GRAPH).alias("graph"),
        ),
        store.quads,
        QUAD_COLUMNS,
    )
    return Diff(added, empty.removed)
