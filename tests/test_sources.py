"""Converter end-to-end tests: fixture files → quads through the distributed
scan path (binaryFile + mapInPandas), plus zip expansion and ingestion into
the StatementStore."""

from __future__ import annotations

import zipfile
from pathlib import Path

from pyspark.sql import functions as F

from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.store import StatementStore
from thymeflow_back_spark.sources.eml import eml_to_quads
from thymeflow_back_spark.sources.files import convert_to_quads, scan_files
from thymeflow_back_spark.sources.ical import ical_to_quads
from thymeflow_back_spark.sources.location_history import location_history_to_quads
from thymeflow_back_spark.sources.vcard import vcard_to_quads

FIXTURES = Path(__file__).parent / "fixtures"


def _pred_obj(quads):
    return {(r[1], r[2]) for r in quads}


def test_eml_converter_basic():
    quads = eml_to_quads((FIXTURES / "simple.eml").read_bytes(), "simple.eml")
    po = _pred_obj(quads)
    assert (vocab.RDF_TYPE, vocab.EMAIL_MESSAGE) in po
    assert (vocab.HEADLINE, "Lunch tomorrow?") in po
    assert (vocab.NAME, "Alice Wonders") in po
    # 1 sender + 2 to + 1 cc agents
    msg = [r for r in quads if r[0].startswith("urn:message:")]
    assert {r[1] for r in msg} >= {vocab.SENDER, vocab.RECIPIENT, vocab.CC_RECIPIENT}
    assert any(r[1] == vocab.TEXT and "lunch at noon" in r[2] for r in quads)


def test_eml_converter_reply_multipart():
    quads = eml_to_quads((FIXTURES / "reply.eml").read_bytes(), "reply.eml")
    po = _pred_obj(quads)
    assert (vocab.IN_REPLY_TO, "urn:message:msg-001@example.com") in po
    # multipart/alternative picks the text/plain body, not html
    assert any(r[1] == vocab.TEXT and r[2] == "Sounds good, see you then!" for r in quads)
    # undisclosed-recipients produces no recipient edge
    assert not any(r[1] == vocab.RECIPIENT for r in quads)


def test_vcard_converter():
    quads = vcard_to_quads((FIXTURES / "contacts.vcf").read_bytes(), "contacts.vcf")
    po = _pred_obj(quads)
    assert (vocab.NAME, "Alice Wonders") in po
    assert (vocab.GIVEN_NAME, "Alice") in po and (vocab.FAMILY_NAME, "Wonders") in po
    assert (vocab.NICKNAME, "Ali") in po and (vocab.NICKNAME, "Wondy") in po
    # year-1970 birthday → gMonthDay literal
    bday = [r for r in quads if r[1] == vocab.BIRTH_DATE and r[0] == "urn:contact:card-alice"]
    assert bday[0][2] == "--03-15" and bday[0][4].endswith("gMonthDay")
    # second card has a real year
    other_bday = [r for r in quads if r[1] == vocab.BIRTH_DATE and r[2] == "1985-07-01"]
    assert other_bday and other_bday[0][4].endswith("date")
    assert (vocab.TELEPHONE, "tel:+33612345678") in po
    assert (vocab.STREET_ADDRESS, "12 Rabbit Hole") in po
    # addressCountry now points at a Place NODE named "France"
    # (PostalAddressConverter hierarchy, see test_scalar_upgrades)
    country = next(r[2] for r in quads if r[1] == vocab.ADDRESS_COUNTRY)
    assert (vocab.NAME, "France") in po
    assert any(r[0] == country and r[2] == vocab.COUNTRY for r in quads)


def test_ical_converter():
    quads = ical_to_quads((FIXTURES / "calendar.ics").read_bytes(), "calendar.ics")
    po = _pred_obj(quads)
    assert (vocab.NAME, "Team lunch, with dessert") in po
    assert (vocab.START_DATE, "2024-01-16T12:00:00+00:00") in po
    assert (vocab.NAME, "Cafe de Flore") in po
    assert (vocab.LATITUDE, "48.8542") in po
    # date-only start + duration on the second event
    assert (vocab.START_DATE, "2024-01-20") in po
    assert (vocab.DURATION, "PT8H") in po
    organizers = [r for r in quads if r[1] == vocab.ORGANIZER]
    attendees = [r for r in quads if r[1] == vocab.ATTENDEE]
    assert len(organizers) == 1 and len(attendees) == 2


def test_location_history_converter_day_graphs():
    quads = location_history_to_quads(
        (FIXTURES / "location_history.json").read_bytes(), "location_history.json"
    )
    graphs = {r[6] for r in quads}
    assert len(graphs) == 2  # two distinct days → two document graphs
    assert any(r[1] == vocab.LATITUDE and r[2].startswith("48.8542") for r in quads)
    assert any(r[1] == vocab.VELOCITY for r in quads)


def test_scan_and_convert_with_zip(spark, tmp_path):
    # bundle the fixtures into a zip next to a loose .eml — both must convert
    zpath = tmp_path / "bundle.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for name in ("contacts.vcf", "calendar.ics"):
            zf.write(FIXTURES / name, name)
    (tmp_path / "simple.eml").write_bytes((FIXTURES / "simple.eml").read_bytes())

    files = scan_files(spark, str(tmp_path))
    quads = convert_to_quads(files)
    got = quads.collect()
    preds = {r.predicate for r in got}
    assert vocab.HEADLINE in preds  # from eml
    assert vocab.BIRTH_DATE in preds  # from zipped vcf
    assert vocab.START_DATE in preds  # from zipped ics

    # ingest as documents: re-ingestion must be an idempotent graph replace
    # (materialize the converted quads once; ingest loops re-trigger actions)
    quads_local = spark.createDataFrame(got, quads.schema).localCheckpoint(eager=True)
    store = StatementStore(spark.createDataFrame([], quads.schema))
    graphs = {r.graph for r in got}
    for gname in graphs:
        doc = quads_local.filter(F.col("graph") == gname)
        store, _ = store.add_document(gname, doc)
        store = store.materialize()
    before = store.quads.count()
    for gname in graphs:
        doc = quads_local.filter(F.col("graph") == gname)
        store, diff = store.add_document(gname, doc)
        assert diff.added.count() == 0 and diff.removed.count() == 0
        store = store.materialize()
    assert store.quads.count() == before
