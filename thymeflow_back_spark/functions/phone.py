"""Phone-number normalization: E.164/RFC 3966 tel: URIs + type classes.

Capability parity with the reference PhoneNumberConverter (reference
sync/converter/utils/PhoneNumberConverter.scala:17-75), which delegates to
Google libphonenumber. That library is not in this runtime, so this is a
self-contained E.164 normalizer covering its contract surface:

- visual separators stripped; international prefix ``00``/``011`` → ``+``;
  national numbers get the configured default country code (leading trunk
  ``0`` dropped);
- output is the RFC 3966 form ``tel:+<digits>`` (the reference's IRI) and
  a display form ``+CC NNN…`` (schema:name);
- type classification (the reference derives MOBILE from libphonenumber
  metadata): here the vCard TEL TYPE parameter drives it — ``cell`` →
  personal:CellphoneNumber, anything else personal:PhoneNumber. Without
  carrier metadata this is the honest signal available.
- numbers that normalize to fewer than 6 or more than 15 digits (E.164
  max) are rejected (reference logs-and-drops invalid numbers).
"""

from __future__ import annotations

import re

DEFAULT_COUNTRY_CODE = "1"

_SEPARATORS = re.compile(r"[\s\-(). /]")


def normalize_phone(raw: str, default_country_code: str = DEFAULT_COUNTRY_CODE) -> str | None:
    """Raw number text (or tel: URI) → canonical ``tel:+<e164digits>``."""
    value = raw.strip()
    if value.lower().startswith("tel:"):
        value = value[4:]
    value = _SEPARATORS.sub("", value)
    if value.startswith("+"):
        digits = value[1:]
    elif value.startswith("00"):
        digits = value[2:]
    elif value.startswith("011"):
        digits = value[3:]
    elif value.startswith("0"):
        digits = default_country_code + value[1:]
    else:
        digits = default_country_code + value
    if not digits.isdigit() or not (6 <= len(digits) <= 15):
        return None
    return f"tel:+{digits}"


def display_phone(tel_uri: str) -> str:
    """tel:+CCNNN… → ``+CC NNN…`` international display (the schema:name
    literal the reference attaches)."""
    digits = tel_uri.removeprefix("tel:+")
    cc_len = 1 if digits[:1] in ("1", "7") else 2
    return f"+{digits[:cc_len]} {digits[cc_len:]}"


def phone_class(type_param: str | None) -> str:
    """vCard TEL TYPE parameter → personal phone class IRI."""
    from ..rdf import vocab

    if type_param and "cell" in type_param.lower():
        return vocab.CELLPHONE_NUMBER
    return vocab.PHONE_NUMBER
