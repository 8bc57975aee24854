"""Facebook Graph API export converter tests (reference
FacebookConverter.scala:29-238 semantics)."""

from __future__ import annotations

import json

from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.sources.facebook import (
    NAMESPACE,
    _convert_birthday,
    facebook_to_quads,
)

EXPORT = {
    "id": "100001",
    "first_name": "Ada",
    "last_name": "Lovelace",
    "gender": "female",
    "email": "Ada@Example.org",
    "birthday": "12/10/1815",
    "taggable_friends": {
        "data": [
            {"id": "200002", "name": "Charles Babbage", "picture": {"data": {"url": "http://img/cb.jpg"}}}
        ]
    },
    "events": {
        "data": [
            {
                "id": "300003",
                "name": "Analytical Engine Demo",
                "start_time": "2026-06-01T18:00:00+0200",
                "end_time": "2026-06-01T20:00:00Z",
                "place": {
                    "id": "400004",
                    "name": "London Hall",
                    "location": {
                        "latitude": 51.5,
                        "longitude": -0.12,
                        "street": "1 Engine St",
                        "city": "London",
                        "country": "UK",
                        "zip": "E1",
                    },
                },
                "invited": {
                    "data": [
                        {"id": "200002", "name": "Charles Babbage", "rsvp_status": "attending"},
                        {"id": "200005", "name": "Nobody", "rsvp_status": "declined"},
                    ]
                },
            }
        ]
    },
}


def _spo(quads):
    return {(r[0], r[1], r[2]) for r in quads}


def test_profile_and_friends():
    quads = facebook_to_quads(json.dumps(EXPORT).encode(), "me.json")
    spo = _spo(quads)
    me = NAMESPACE + "100001"
    assert (me, vocab.RDF_TYPE, vocab.AGENT) in spo
    assert (me, vocab.GIVEN_NAME, "Ada") in spo
    assert (me, vocab.BIRTH_DATE, "1815-12-10") in spo
    assert (me, vocab.EMAIL, "mailto:ada@example.org") in spo
    friend = NAMESPACE + "200002"
    assert (friend, vocab.NAME, "Charles Babbage") in spo
    assert (friend, vocab.SCHEMA + "image", "http://img/cb.jpg") in spo


def test_event_place_and_rsvp():
    quads = facebook_to_quads(json.dumps(EXPORT).encode(), "me.json")
    spo = _spo(quads)
    event, place = NAMESPACE + "300003", NAMESPACE + "400004"
    assert (event, vocab.RDF_TYPE, vocab.EVENT) in spo
    assert (event, vocab.START_DATE, "2026-06-01T18:00:00+02:00") in spo
    assert (event, vocab.END_DATE, "2026-06-01T20:00:00+00:00") in spo
    assert (event, vocab.LOCATION, place) in spo
    assert (place, vocab.GEO, "geo:51.5,-0.12") in spo
    assert any(p == vocab.ADDRESS_COUNTRY and o == "UK" for _, p, o in spo)
    # only the attending invitee becomes an attendee; both become agents
    assert (event, vocab.ATTENDEE, NAMESPACE + "200002") in spo
    assert (event, vocab.ATTENDEE, NAMESPACE + "200005") not in spo
    assert (NAMESPACE + "200005", vocab.RDF_TYPE, vocab.AGENT) in spo


def test_birthday_fallbacks():
    assert _convert_birthday("1815") == ("1815", "http://www.w3.org/2001/XMLSchema#gYear")
    assert _convert_birthday("12/10") == ("--12-10", "http://www.w3.org/2001/XMLSchema#gMonthDay")
    assert _convert_birthday("not a date") is None
