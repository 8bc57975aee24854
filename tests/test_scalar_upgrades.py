"""Scalar-function parity upgrades: E.164 phone normalization + classes,
postal-address place hierarchy, Vincenty ellipsoid distance, and the vCard
diff write-back inverse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thymeflow_back_spark.functions.geo import haversine_m, vincenty_m
from thymeflow_back_spark.functions.phone import (
    display_phone,
    normalize_phone,
    phone_class,
)
from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.sources.vcard import vcard_apply_diff, vcard_to_quads

VCF = b"""BEGIN:VCARD
VERSION:4.0
UID:u-1
FN:Grace Hopper
N:Hopper;Grace;Brewster;RADM;PhD
TEL;TYPE=cell:(607) 555-0100
TEL;TYPE=work:+33 1 23 45 67 89
TEL:12
ADR:;;1 Navy Way;Arlington;VA;22202;USA
BDAY:1970-12-09
END:VCARD
"""


def test_phone_normalization():
    assert normalize_phone("(607) 555-0100") == "tel:+16075550100"
    assert normalize_phone("+33 1 23 45 67 89") == "tel:+33123456789"
    assert normalize_phone("00 33 1 23 45 67 89") == "tel:+33123456789"
    assert normalize_phone("0 123 456 789", default_country_code="33") == "tel:+33123456789"
    assert normalize_phone("12") is None  # too short
    assert normalize_phone("tel:+16075550100") == "tel:+16075550100"
    assert display_phone("tel:+16075550100") == "+1 6075550100"
    assert display_phone("tel:+33123456789") == "+33 123456789"
    assert phone_class("cell") == vocab.CELLPHONE_NUMBER
    assert phone_class("work") == vocab.PHONE_NUMBER
    assert phone_class(None) == vocab.PHONE_NUMBER


def test_vcard_phone_types_and_address_hierarchy():
    quads = vcard_to_quads(VCF, "gh.vcf")
    spo = {(r[0], r[1], r[2]) for r in quads}
    card = "urn:contact:u-1"
    assert (card, vocab.TELEPHONE, "tel:+16075550100") in spo
    assert ("tel:+16075550100", vocab.RDF_TYPE, vocab.CELLPHONE_NUMBER) in spo
    assert ("tel:+33123456789", vocab.RDF_TYPE, vocab.PHONE_NUMBER) in spo
    assert not any(o == vocab.CELLPHONE_NUMBER and s == "tel:+33123456789" for s, p, o in spo)
    # the invalid TEL:12 is dropped
    assert not any(p == vocab.TELEPHONE and o.endswith("12") for _, p, o in spo)
    # honorifics from N components 4/5
    assert (card, vocab.HONORIFIC_PREFIX, "RADM") in spo
    assert (card, vocab.HONORIFIC_SUFFIX, "PhD") in spo
    # address hierarchy: country/region/locality are NODES with names,
    # chained by containedInPlace
    country = next(o for s, p, o in spo if p == vocab.ADDRESS_COUNTRY)
    region = next(o for s, p, o in spo if p == vocab.ADDRESS_REGION)
    locality = next(o for s, p, o in spo if p == vocab.ADDRESS_LOCALITY)
    assert (country, vocab.RDF_TYPE, vocab.COUNTRY) in spo
    assert (country, vocab.NAME, "USA") in spo
    assert (region, vocab.CONTAINED_IN_PLACE, country) in spo
    assert (locality, vocab.CONTAINED_IN_PLACE, region) in spo
    assert (locality, vocab.CONTAINED_IN_PLACE, country) in spo
    assert (locality, vocab.NAME, "Arlington") in spo
    # gMonthDay 1970 convention still holds
    assert (card, vocab.BIRTH_DATE, "--12-09") in spo


def test_vcard_apply_diff_roundtrip():
    card = "urn:contact:u-1"
    new_text, results = vcard_apply_diff(
        VCF.decode(),
        added=[
            (card, vocab.EMAIL, "mailto:grace@navy.mil"),
            (card, vocab.NAME, "Amazing Grace"),
            (card, "urn:unsupported", "x"),
        ],
        removed=[(card, vocab.TELEPHONE, "tel:+16075550100")],
    )
    assert "EMAIL:grace@navy.mil" in new_text
    assert "FN:Amazing Grace" in new_text
    assert "607" not in new_text  # cell line removed
    assert "TEL;TYPE=work" in new_text  # other phone kept
    assert ("urn:contact:u-1", "urn:unsupported", "x", "add") in results["rejected"]
    # re-converting the written text reflects the edits (write→read closure)
    quads = vcard_to_quads(new_text.encode(), "gh.vcf")
    spo = {(r[0], r[1], r[2]) for r in quads}
    assert (card, vocab.EMAIL, "mailto:grace@navy.mil") in spo
    assert (card, vocab.NAME, "Amazing Grace") in spo
    assert not any(o == "tel:+16075550100" for _, _, o in spo)


def test_vincenty_against_known_distances(spark):
    # Paris (48.8566, 2.3522) ↔ NYC (40.7128, -74.0060): WGS84 geodesic
    # 5 852 935.29 m (converged Vincenty; the sphere gives 5 837 240)
    df = spark.createDataFrame(
        [
            (48.8566, 2.3522, 40.7128, -74.0060, 5852935.29),
            (0.0, 0.0, 0.0, 1.0, 111319.49),  # 1° of longitude at the equator
            (50.0, 10.0, 50.0, 10.0, 0.0),  # identical points
        ],
        "lat1 double, lon1 double, lat2 double, lon2 double, expected double",
    )
    rows = df.select(
        vincenty_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("v"),
        haversine_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("h"),
        "expected",
    ).collect()
    for r in rows:
        assert r.v == pytest.approx(r.expected, rel=2e-4), r
    # ellipsoid vs sphere differ by up to ~0.5%
    assert rows[0].v != pytest.approx(rows[0].h, rel=1e-4)


def test_karney_geodesic(spark):
    """Karney-formulation WGS84 inverse (algorithms/geodesic.py; reference
    KarneyGeodeticCalculator wraps GeographicLib): published-constant
    goldens, Vincenty agreement where Vincenty converges, and robustness
    in the nearly-antipodal zone where Vincenty's iteration fails."""
    import math
    import random

    from thymeflow_back_spark.algorithms.geodesic import karney_inverse_m
    from thymeflow_back_spark.functions.geo import karney_m

    # published WGS84 constants: quarter meridian and 90° equatorial arc
    assert karney_inverse_m(0, 0, 90, 0) == pytest.approx(10001965.7293, abs=1e-3)
    assert karney_inverse_m(0, 0, 0, 90) == pytest.approx(
        6378137.0 * math.pi / 2, abs=1e-6
    )
    # Paris ↔ NYC converged-Vincenty golden (same as the vincenty test)
    assert karney_inverse_m(48.8566, 2.3522, 40.7128, -74.0060) == pytest.approx(
        5852935.29, abs=2.0
    )
    assert karney_inverse_m(50.0, 10.0, 50.0, 10.0) == 0.0

    # mm-level agreement with Vincenty on random non-antipodal pairs
    rnd = random.Random(42)
    pairs = [
        (
            rnd.uniform(-80, 80), rnd.uniform(-179, 179),
            rnd.uniform(-80, 80), rnd.uniform(-179, 179),
        )
        for _ in range(12)
    ]
    pairs = [p for p in pairs if abs(abs(p[1] - p[3]) - 180) > 20][:8]
    df = spark.createDataFrame(
        pairs, "lat1 double, lon1 double, lat2 double, lon2 double"
    )
    rows = df.select(
        karney_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("k"),
        vincenty_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("v"),
    ).collect()
    for r in rows:
        assert r.k == pytest.approx(r.v, abs=5e-3), r

    # nearly antipodal: a sane geodesic distance, no divergence
    d = karney_inverse_m(0.1, 0.0, -0.1, 179.8)
    assert 19_900_000 < d < 20_100_000
    # symmetry under point swap and longitude sign
    assert karney_inverse_m(10, 20, 30, 40) == pytest.approx(
        karney_inverse_m(30, 40, 10, 20), abs=1e-9
    )
    assert karney_inverse_m(10, -20, 30, -40) == pytest.approx(
        karney_inverse_m(10, 20, 30, 40), abs=1e-9
    )
