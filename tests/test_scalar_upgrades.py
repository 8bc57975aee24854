"""Scalar-function parity upgrades: E.164 phone normalization + classes,
postal-address place hierarchy, and the vCard diff write-back inverse."""

from __future__ import annotations

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
