"""Shared converter helpers: deterministic IRI minting + quad tuple building."""

from __future__ import annotations

import uuid

from ..rdf.model import XSD_STRING

# Fixed engine namespace for name-based UUIDs (deterministic re-ingestion →
# same IRIs, the UUIDConverter property the pipeline relies on).
_NS = uuid.uuid5(uuid.NAMESPACE_URL, "urn:thymeflow-back-spark")


def mint(kind: str, content: str) -> str:
    return f"urn:uuid:{uuid.uuid5(_NS, f'{kind}:{content}')}"


def doc_graph(path: str) -> str:
    return mint("document", path)


def q(
    s: str,
    p: str,
    o: str,
    g: str,
    otype: str = "literal",
    dtype: str | None = XSD_STRING,
    lang: str | None = None,
) -> tuple:
    if otype != "literal":
        dtype = None
    return (s, p, o, otype, dtype, lang, g)


def unfold_lines(text: str) -> list[str]:
    """RFC 5545/6350 line unfolding: continuation lines start with space/tab."""
    out: list[str] = []
    for raw in text.splitlines():
        if raw[:1] in (" ", "\t") and out:
            out[-1] += raw[1:]
        else:
            out.append(raw)
    return [line for line in out if line.strip()]


def parse_prop(line: str) -> tuple[str, dict[str, str], str] | None:
    """'NAME;PARAM=V;PARAM2=V2:value' → (NAME, params, value)."""
    head, sep, value = line.partition(":")
    if not sep:
        return None
    parts = head.split(";")
    name = parts[0].upper()
    params: dict[str, str] = {}
    for p in parts[1:]:
        k, _, v = p.partition("=")
        params[k.upper()] = v
    return name, params, value
