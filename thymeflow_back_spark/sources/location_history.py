"""Google-style location history JSON → quads converter.

Capability parity with the reference's GoogleLocationHistoryConverter
(SURVEY.md §2.1): E7 integer coordinates → degrees, epoch-ms timestamps,
velocity/heading/accuracy, grouped into ONE DOCUMENT GRAPH PER DAY so a
day's track replaces atomically on re-sync.

``location_history_to_quads`` turns one archive's bytes into quad rows
for the file dispatcher (sources/files.py).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from ..rdf import vocab
from ..rdf.model import XSD_DATETIME, XSD_DOUBLE
from .common import mint, q


def _point_quads(rec: dict, path: str) -> list[tuple]:
    try:
        ts_ms = int(rec["timestampMs"])
        lat = rec["latitudeE7"] / 1e7
        lon = rec["longitudeE7"] / 1e7
    except (KeyError, TypeError, ValueError):
        return []
    dt = datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc)
    day = dt.strftime("%Y-%m-%d")
    g = mint("location-day", f"{path}:{day}")
    p = mint("location", f"{path}:{ts_ms}")
    quads = [
        q(p, vocab.RDF_TYPE, vocab.LOCATION_POINT, g, otype="iri"),
        q(p, vocab.TIME, dt.isoformat(), g, dtype=XSD_DATETIME),
        q(p, vocab.LATITUDE, repr(lat), g, dtype=XSD_DOUBLE),
        q(p, vocab.LONGITUDE, repr(lon), g, dtype=XSD_DOUBLE),
    ]
    for key, pred in (
        ("accuracy", vocab.UNCERTAINTY),
        ("velocity", vocab.VELOCITY),
        ("heading", vocab.ANGLE),
    ):
        if key in rec and rec[key] is not None:
            quads.append(q(p, pred, repr(float(rec[key])), g, dtype=XSD_DOUBLE))
    return quads


def location_history_to_quads(content: bytes, path: str) -> list[tuple]:
    try:
        payload = json.loads(content)
    except (ValueError, UnicodeDecodeError):
        return []
    locations = payload.get("locations") if isinstance(payload, dict) else None
    if not isinstance(locations, list):
        return []
    rows: list[tuple] = []
    for rec in locations:
        rows.extend(_point_quads(rec, path))
    return rows
