"""SPARQL protocol edge cases over a raw socket: a malformed or truncated
POST gets a 400 with a text/plain reason and runs nothing, never a dropped
connection; a client that stops sending is disconnected, so no handler
thread waits on it forever."""

from __future__ import annotations

import socket
import time

import pytest

from thymeflow_back_spark.api import service
from thymeflow_back_spark.api.service import SparqlEndpoint
from thymeflow_back_spark.rdf.model import empty_quads
from thymeflow_back_spark.rdf.store import StatementStore


@pytest.fixture(scope="module")
def served(spark):
    endpoint = SparqlEndpoint(StatementStore(empty_quads(spark)))
    yield endpoint, endpoint.start()
    endpoint.stop()


def _post(
    port: int,
    length: str,
    body: bytes,
    ctype: str = "application/sparql-query",
    half_close: bool = False,
) -> tuple[str, dict[str, str], bytes]:
    """(status line, headers, body) of one raw POST to /sparql. Unless
    ``half_close``, the client keeps its side open, so a server that waits
    for more body bytes times out here instead of answering."""
    head = (
        "POST /sparql HTTP/1.1\r\nHost: localhost\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {length}\r\n\r\n"
    ).encode("ascii")
    with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
        sock.sendall(head + body)
        if half_close:
            sock.shutdown(socket.SHUT_WR)
        data = b""
        while chunk := sock.recv(4096):
            data += chunk
    raw_head, _, payload = data.partition(b"\r\n\r\n")
    status, *lines = raw_head.decode("latin-1").split("\r\n")
    headers = {k.lower(): v.strip() for k, _, v in (line.partition(":") for line in lines)}
    return status, headers, payload


@pytest.mark.parametrize(
    "length, body, reason",
    [
        ("abc", b"ASK { ?s ?p ?o }", b"Content-Length"),
        ("-1", b"ASK { ?s ?p ?o }", b"Content-Length"),
        ("2", b"\xff\xfe", b"UTF-8"),
    ],
    ids=["non_numeric_length", "negative_length", "non_utf8_body"],
)
def test_malformed_post_is_a_400(served, length, body, reason):
    status, headers, payload = _post(served[1], length, body)
    assert status.split()[1] == "400"
    assert headers["content-type"] == "text/plain"
    assert reason in payload


@pytest.mark.parametrize(
    "accept, ctype",
    [
        ("application/sparql-results+json, application/sparql-results+xml",
         "application/sparql-results+json"),
        ("application/sparql-results+xml", "application/sparql-results+xml"),
        ("text/csv, application/sparql-results+xml", "application/sparql-results+xml"),
        ("text/csv", "application/sparql-results+json"),
    ],
    ids=["json_first", "xml_only", "csv_then_xml", "csv_only"],
)
def test_ask_takes_the_first_listed_results_type(served, accept, ctype):
    """ASK negotiates as SELECT does: the first listed JSON or XML results
    type, JSON by default. CSV and TSV have no boolean form."""
    status, got, body = served[0].handle("ASK { ?s ?p ?o }", accept)
    assert (status, got) == (200, ctype)
    assert "false" in body


def test_post_shorter_than_its_length_is_a_400(served):
    """The client declares the whole two-operation update, sends only the
    first operation and half-closes: nothing runs."""
    endpoint, port = served
    update = (
        "INSERT DATA { <urn:s> <urn:p> <urn:o> } ; "
        "DELETE DATA { <urn:s> <urn:p> <urn:o> }"
    ).encode()
    sent = update[: update.index(b";")]
    status, headers, payload = _post(
        port, str(len(update)), sent, ctype="application/sparql-update", half_close=True
    )
    assert status.split()[1] == "400"
    assert headers["content-type"] == "text/plain"
    assert b"Content-Length" in payload
    assert endpoint.store.quads.count() == 0


def test_silent_client_is_disconnected(spark, monkeypatch):
    """A client that connects and sends nothing, and one that stops in the
    middle of its body, are both disconnected after the socket timeout."""
    monkeypatch.setattr(service, "REQUEST_TIMEOUT_S", 0.5)
    endpoint = SparqlEndpoint(StatementStore(empty_quads(spark)))
    port = endpoint.start()
    stalled = b"POST /sparql HTTP/1.1\r\nContent-Length: 100\r\n\r\nASK"
    try:
        for request in (b"", stalled):
            with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
                sock.sendall(request)
                start = time.monotonic()
                assert sock.recv(4096) == b""  # closed without an answer
                assert time.monotonic() - start < 5
    finally:
        endpoint.stop()
