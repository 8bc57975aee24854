"""SPARQL protocol edge cases over a raw socket: a malformed POST gets a
400 with a text/plain reason, never a dropped connection or a handler
thread blocked on the request body."""

from __future__ import annotations

import socket

import pytest

from thymeflow_back_spark.api.service import SparqlEndpoint
from thymeflow_back_spark.rdf.model import empty_quads
from thymeflow_back_spark.rdf.store import StatementStore


@pytest.fixture(scope="module")
def port(spark):
    endpoint = SparqlEndpoint(StatementStore(empty_quads(spark)))
    yield endpoint.start()
    endpoint.stop()


def _post(port: int, length: str, body: bytes) -> tuple[str, dict[str, str], bytes]:
    """(status line, headers, body) of one raw POST to /sparql. The client
    keeps its side open, so a server that waits for more body bytes times
    out here instead of answering."""
    head = (
        "POST /sparql HTTP/1.1\r\nHost: localhost\r\n"
        "Content-Type: application/sparql-query\r\n"
        f"Content-Length: {length}\r\n\r\n"
    ).encode("ascii")
    with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
        sock.sendall(head + body)
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
def test_malformed_post_is_a_400(port, length, body, reason):
    status, headers, payload = _post(port, length, body)
    assert status.split()[1] == "400"
    assert headers["content-type"] == "text/plain"
    assert reason in payload

