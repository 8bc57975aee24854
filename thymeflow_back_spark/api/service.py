"""SPARQL protocol service: query dispatch, result serialization, HTTP.

The reference's front door is `/sparql` over HTTP
(api/SparqlService.scala:38-74: GET ?query= or POST form /
`application/sparql-query`; 100-158: dispatch on Boolean/Graph/Tuple query
with a result writer picked from the Accept header; 145-158: updates).
This module is that surface over the Spark engine:

- ``execute_sparql`` — one entry point dispatching SELECT / ASK /
  CONSTRUCT / DESCRIBE / UPDATE to the compilers in plans/sparql.py.
- SPARQL 1.1 result serializers: Results JSON, Results XML, CSV and TSV
  for SELECT/ASK; N-Triples for CONSTRUCT/DESCRIBE graphs.
- ``SparqlEndpoint`` — a stdlib ThreadingHTTPServer endpoint holding a
  StatementStore; updates route through update/updater.apply_update (the
  reference intercepts update diffs into Updater.scala — §3.3).

Document formats (JSON/XML) collect to the driver under a row cap; the
line formats (CSV/TSV) stream through ``toLocalIterator`` in chunks with
no cap — the Spark analogue of the reference's piped background writer
(SparqlService.scala:183-195). Each request compiles to one Spark SQL
statement; a property-path closure over an edge relation under the cap of
plans/sparql.py is closed on the driver before that statement is built,
anything larger runs distributed. ``explain=1`` on ``/sparql`` returns the
statement text and its parameters instead of running it.

Term kinds in SELECT results are exact, not guessed: the compiler carries
hidden ``__type/__datatype/__lang`` columns for every variable a pattern,
VALUES, BIND or GROUP BY key binds (``keep_term_types=True``); a variable
without them is an aggregate or function output, typed from its column.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse
from xml.sax.saxutils import escape

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from ..plans.sparql import (
    HIDDEN_SUFFIXES,
    explain_sparql,
    query_form,
    sparql_ask,
    sparql_construct,
    sparql_describe,
    sparql_select,
    sparql_update_diff,
)
from ..rdf.store import StatementStore
from ..supervisor import documents_per_source
from ..update.updater import WriteBack, apply_update

_XSD = "http://www.w3.org/2001/XMLSchema#"

# Seconds a connection may block on one socket read or write: a client that
# stops sending is disconnected, so it cannot pin a handler thread forever.
REQUEST_TIMEOUT_S = 30


@dataclass
class SparqlResult:
    kind: str  # select | ask | construct | describe | update
    df: DataFrame | None = None  # select solutions / construct quads
    boolean: bool | None = None  # ask
    store: StatementStore | None = None  # post-update store


def execute_sparql(
    store: StatementStore,
    text: str,
    bindings: dict[str, str] | None = None,
    write_back: WriteBack | None = None,
    synchronized_graph_prefix: str = "urn:uuid:",
) -> SparqlResult:
    form = query_form(text)
    quads = store.quads
    if form == "select":
        return SparqlResult(
            "select", df=sparql_select(quads, text, bindings=bindings, keep_term_types=True)
        )
    if form == "ask":
        return SparqlResult("ask", boolean=sparql_ask(quads, text, bindings=bindings))
    if form == "construct":
        return SparqlResult("construct", df=sparql_construct(quads, text))
    if form == "describe":
        return SparqlResult("describe", df=sparql_describe(quads, text))
    diff = sparql_update_diff(quads, text)
    new_store = apply_update(
        store,
        diff,
        synchronized_graph_prefix=synchronized_graph_prefix,
        write_back=write_back,
    )
    return SparqlResult("update", store=new_store)


# ---------------------------------------------------------------------------
# SELECT / ASK result serialization (SPARQL 1.1 Query Results formats)


def _solution_columns(columns) -> list[str]:
    """The solution variables among ``columns``: the hidden term-kind
    columns are dropped by their exact suffixes, NOT by a '__' substring
    test, so a projected variable whose name contains '__' is kept."""
    return [c for c in columns if not c.endswith(HIDDEN_SUFFIXES)]


def _to_pandas(df) -> pd.DataFrame:
    return df if isinstance(df, pd.DataFrame) else df.toPandas()


def _term(pdf_row, var: str, dtype_kind: str) -> dict | None:
    value = pdf_row.get(var)
    # NULL may surface as None (object cols), NaN (float cols), pd.NA
    # (nullable Int64 after _stable_int_cols), or NaT (datetime) — all of
    # them are "unbound", and str(int(pd.NA)) would raise TypeError.
    if value is None or value is pd.NA or value is pd.NaT or (
        isinstance(value, float) and pd.isna(value)
    ):
        return None
    ttype = pdf_row.get(f"{var}__type")
    if ttype is None:
        # no hidden columns: an aggregate or function output, typed from
        # the pandas dtype (a string falls back to an IRI)
        if dtype_kind in "iu":
            return {"type": "literal", "value": str(int(value)), "datatype": _XSD + "integer"}
        if dtype_kind == "f":
            return {"type": "literal", "value": repr(float(value)), "datatype": _XSD + "double"}
        if dtype_kind == "b":
            return {"type": "literal", "value": str(bool(value)).lower(), "datatype": _XSD + "boolean"}
        return {"type": "uri", "value": str(value)}
    out: dict = {
        "type": {"iri": "uri", "bnode": "bnode"}.get(ttype, "literal"),
        "value": str(value),
    }
    lang = pdf_row.get(f"{var}__lang")
    dtype = pdf_row.get(f"{var}__datatype")
    if out["type"] == "literal":
        if lang:
            out["xml:lang"] = lang
        elif dtype and dtype != _XSD + "string":
            out["datatype"] = dtype
    return out


def _solutions(df) -> tuple[list[str], list[dict]]:
    pdf = _to_pandas(df)
    cols = _solution_columns(pdf.columns)
    kinds = {c: pdf[c].dtype.kind for c in cols}
    rows = []
    for _, r in pdf.iterrows():
        row = {}
        for c in cols:
            term = _term(r, c, kinds[c])
            if term is not None:
                row[c] = term
        rows.append(row)
    return cols, rows


def select_json(df: DataFrame) -> str:
    """application/sparql-results+json."""
    cols, rows = _solutions(df)
    return json.dumps({"head": {"vars": cols}, "results": {"bindings": rows}})


def select_xml(df: DataFrame) -> str:
    """application/sparql-results+xml."""
    cols, rows = _solutions(df)
    parts = ['<?xml version="1.0"?>', '<sparql xmlns="http://www.w3.org/2005/sparql-results#">']
    parts.append("<head>" + "".join(f'<variable name="{escape(c)}"/>' for c in cols) + "</head>")
    parts.append("<results>")
    for row in rows:
        parts.append("<result>")
        for var, term in row.items():
            if term["type"] == "uri":
                body = f"<uri>{escape(term['value'])}</uri>"
            elif term["type"] == "bnode":
                body = f"<bnode>{escape(term['value'])}</bnode>"
            else:
                attrs = ""
                if "xml:lang" in term:
                    attrs = f' xml:lang="{escape(term["xml:lang"])}"'
                elif "datatype" in term:
                    attrs = f' datatype="{escape(term["datatype"])}"'
                body = f"<literal{attrs}>{escape(term['value'])}</literal>"
            parts.append(f'<binding name="{escape(var)}">{body}</binding>')
        parts.append("</result>")
    parts.append("</results></sparql>")
    return "".join(parts)


def _tsv_term(term: dict | None) -> str:
    """One term in SPARQL 1.1 TSV encoding (Turtle-style): IRIs in <>,
    bnodes as _:label, literals quoted with @lang / ^^<datatype>."""
    if term is None:
        return ""
    if term["type"] == "uri":
        return f"<{term['value']}>"
    if term["type"] == "bnode":
        v = term["value"]
        return v if v.startswith("_:") else f"_:{v}"
    value = (
        term["value"]
        .replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )
    if term.get("xml:lang"):
        return f'"{value}"@{term["xml:lang"]}'
    if term.get("datatype"):
        return f'"{value}"^^<{term["datatype"]}>'
    return f'"{value}"'


# the line formats: SPARQL 1.1 CSV (plain lexical values) and TSV (the
# format the reference serves through RDF4J's SPARQLResultsTSVWriter),
# both streamed by ``iter_select``
_STREAMABLE = ("text/csv", "text/tab-separated-values")


def _spark_kinds(df: DataFrame) -> dict[str, str]:
    """numpy-style dtype kinds from the SPARK schema, so chunked
    serialization types a column once instead of re-inferring per chunk
    (a chunk whose int column holds a NULL would otherwise float-ify)."""
    m = {"bigint": "i", "int": "i", "smallint": "i", "tinyint": "i",
         "double": "f", "float": "f", "boolean": "b"}
    return {name: m.get(dt, "O") for name, dt in df.dtypes}


def _exact_pandas(df: DataFrame) -> pd.DataFrame:
    """Collect to pandas WITHOUT float-ifying NULL-bearing integer columns.

    ``toPandas()`` converts an int64 column containing a NULL to float64 at
    collection time — digits past 2^53 are already wrong before any
    coercion can run. Arrow holds int64 + a null mask natively, so routing
    through ``toArrow`` with a nullable-Int64 types_mapper is exact."""
    mapper = {pa.int64(): pd.Int64Dtype(),
              pa.int32(): pd.Int32Dtype(),
              pa.int16(): pd.Int16Dtype(),
              pa.int8(): pd.Int8Dtype()}
    return df.toArrow().to_pandas(types_mapper=mapper.get)


def _stable_int_cols(pdf: pd.DataFrame, kinds: dict[str, str]) -> pd.DataFrame:
    """Coerce Spark-integer columns to pandas nullable Int64 so NULLs don't
    float-ify the column ('42.0' instead of '42') — per-chunk inference
    would otherwise serialize the same variable differently from chunk to
    chunk (and from the capped path)."""
    for c, k in kinds.items():
        if k == "i" and c in pdf.columns:
            pdf[c] = pdf[c].astype("Int64")
    return pdf


def iter_select(df: DataFrame, ctype: str, chunk_rows: int = 10_000):
    """Stream SELECT solutions as CSV/TSV text chunks through
    ``toLocalIterator`` — the Spark analogue of the reference's piped
    background writer (SparqlService.scala:183-195): the driver holds one
    partition + one chunk at a time, never the whole result, so arbitrarily
    large SELECTs serve without a row cap."""
    cols_all = df.columns
    cols = _solution_columns(cols_all)
    kinds = _spark_kinds(df)
    if ctype == "text/csv":
        yield ",".join(cols) + "\r\n"
    else:
        yield "\t".join(f"?{c}" for c in cols) + "\n"

    def flush(buf: list) -> str:
        if ctype == "text/csv":
            pdf = _stable_int_cols(
                pd.DataFrame([r.asDict() for r in buf], columns=cols_all), kinds
            )
            return pdf[cols].to_csv(index=False, header=False, lineterminator="\r\n")
        # TSV: serialize straight off the Row dicts — a pandas round-trip
        # would re-infer dtypes per chunk and float-ify a NULL-bearing int
        # column (wrong digits past 2^53), exactly the hazard
        # _stable_int_cols guards in the CSV branch
        lines = [
            "\t".join(_tsv_term(_term(r.asDict(), c, kinds[c])) for c in cols)
            for r in buf
        ]
        return "\n".join(lines) + "\n"

    buf: list = []
    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(row)
        if len(buf) >= chunk_rows:
            yield flush(buf)
            buf = []
    if buf:
        yield flush(buf)


def ask_json(value: bool) -> str:
    return json.dumps({"head": {}, "boolean": value})


def ask_xml(value: bool) -> str:
    return (
        '<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#">'
        f"<head/><boolean>{str(value).lower()}</boolean></sparql>"
    )


def quads_ntriples(df: DataFrame) -> str:
    """CONSTRUCT/DESCRIBE graph → N-Triples text."""
    from ..rdf.io import serialize_ntriples

    return "\n".join(r.line for r in serialize_ntriples(df).collect()) + "\n"


# ---------------------------------------------------------------------------
# HTTP endpoint


# the document formats, built whole from a capped collect
_SELECT_WRITERS = {
    "application/sparql-results+json": select_json,
    "application/json": select_json,
    "application/sparql-results+xml": select_xml,
}


def _negotiate(accept: str) -> str:
    """The SELECT result media type for an Accept header: the first listed
    document or line format, else SPARQL Results JSON."""
    for media in (accept or "").split(","):
        media = media.split(";")[0].strip()
        if media in _SELECT_WRITERS or media in _STREAMABLE:
            return media
    return "application/sparql-results+json"


class SparqlEndpoint:
    """Minimal SPARQL 1.1 Protocol endpoint over a StatementStore.

    GET /sparql?query=… and POST /sparql (form-encoded `query=`/`update=`,
    `application/sparql-query`, or `application/sparql-update`) — the same
    surface SparqlService.scala:38-74 mounts. With `explain=1` (a GET or
    form parameter, or in the POST URL) the response is the compiled
    statement instead of the result; compiling evaluates the request's
    property-path closures, so a closure above the driver cap runs its
    distributed operator even then. The held store is swapped
    atomically on update; reads serve from the store current at arrival.
    """

    def __init__(
        self,
        store: StatementStore,
        write_back: WriteBack | None = None,
        max_rows: int = 100_000,
    ):
        """``max_rows`` bounds driver-side result materialization for the
        DOCUMENT formats (JSON/XML must be built whole): a SELECT /
        CONSTRUCT producing more rows gets HTTP 413 instead of OOMing the
        driver. The limit is pushed into the plan (``LIMIT cap+1``), so
        Spark never collects more than cap+1 rows. The LINE formats — CSV
        and TSV — are exempt from the cap: they stream through
        ``toLocalIterator`` in chunks, the Spark analogue of the
        reference's piped background writer (SparqlService.scala:183-195),
        so the driver never holds the full result."""
        self.store = store
        self.write_back = write_back
        self.max_rows = max_rows
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None

    # -- request handling (transport-independent, used by the HTTP handler)

    def handle(self, text: str, accept: str = ""):
        """(status, content_type, body) for one SPARQL request string.
        ``body`` is a str, or an ITERATOR of str chunks when a large SELECT
        streams (CSV/TSV); a mid-stream executor
        failure truncates the body, exactly like the reference's piped
        writer after headers are sent."""
        try:
            form = query_form(text)
        except SyntaxError as e:
            return 400, "text/plain", str(e)
        try:
            if form == "update":
                with self._lock:
                    result = execute_sparql(self.store, text, write_back=self.write_back)
                    self.store = result.store
                return 204, "text/plain", ""
            result = execute_sparql(self.store, text)
            if result.kind == "select":
                ctype = _negotiate(accept)
                if ctype in _STREAMABLE:
                    # pull the header AND the first data chunk eagerly: the
                    # first chunk triggers execution, so analysis/runtime
                    # errors surface HERE and become a clean 400/500 instead
                    # of dying mid-stream after 200 + headers went out
                    gen = iter_select(result.df, ctype)
                    head = [next(gen)]
                    try:
                        head.append(next(gen))
                    except StopIteration:
                        pass

                    def stream(head=head, gen=gen):
                        yield from head
                        yield from gen

                    return 200, ctype, stream()
                pdf = _exact_pandas(result.df.limit(self.max_rows + 1))
                if len(pdf) > self.max_rows:
                    return 413, "text/plain", f"result exceeds max_rows={self.max_rows}"
                # ints stay ints under NULLs for EVERY format (nullable
                # Int64 keeps dtype.kind == 'i'): without this, the same
                # NULL-bearing bigint binding serialized as xsd:integer in
                # TSV but xsd:double in JSON/XML depending on Accept
                pdf = _stable_int_cols(pdf, _spark_kinds(result.df))
                return 200, ctype, _SELECT_WRITERS[ctype](pdf)
            if result.kind == "ask":
                if "xml" in (accept or ""):
                    return 200, "application/sparql-results+xml", ask_xml(result.boolean)
                return 200, "application/sparql-results+json", ask_json(result.boolean)
            body = quads_ntriples(result.df.limit(self.max_rows + 1))
            if body.count("\n") > self.max_rows:
                return 413, "text/plain", f"result exceeds max_rows={self.max_rows}"
            return 200, "application/n-triples", body
        except SyntaxError as e:  # MalformedQueryException → 400 parity
            return 400, "text/plain", str(e)
        except Exception as e:  # noqa: BLE001 — runtime evaluation errors
            # (AnalysisException from an unbound variable, bad bindings, …)
            # must produce an HTTP response, not kill the handler thread
            return 500, "text/plain", f"query evaluation failed: {e}"

    def explain(self, text: str) -> tuple[int, str, str]:
        """(status, content_type, body) of an EXPLAIN request: the Spark SQL
        statements ``text`` compiles to, with their named parameters, as
        text/plain. The statements do not run, but their closures are
        evaluated (see ``explain_sparql``)."""
        try:
            return 200, "text/plain", explain_sparql(self.store.quads, text)
        except SyntaxError as e:
            return 400, "text/plain", str(e)
        except Exception as e:  # noqa: BLE001 — analysis errors are a response too
            return 500, "text/plain", f"query compilation failed: {e}"

    def service_description(self) -> str:
        """SPARQL 1.1 Service Description (Turtle) — union default graph and
        the supported languages/result formats, the subset the reference
        advertises (SparqlService.scala:203-246)."""
        return (
            "@prefix sd: <http://www.w3.org/ns/sparql-service-description#> .\n"
            "[] a sd:Service ;\n"
            "   sd:supportedLanguage sd:SPARQL11Query, sd:SPARQL11Update ;\n"
            "   sd:resultFormat <http://www.w3.org/ns/formats/SPARQL_Results_JSON>,\n"
            "       <http://www.w3.org/ns/formats/SPARQL_Results_XML>,\n"
            "       <http://www.w3.org/ns/formats/SPARQL_Results_CSV>,\n"
            "       <http://www.w3.org/ns/formats/SPARQL_Results_TSV>,\n"
            "       <http://www.w3.org/ns/formats/N-Triples> ;\n"
            "   sd:feature sd:UnionDefaultGraph .\n"
        )

    def services_dashboard(self) -> tuple[int, str, str]:
        """The data-services dashboard (DataServicesService.scala:25-49
        shape): per-source document counts from the service metadata graph,
        as JSON."""
        rows = documents_per_source(self.store).orderBy("source").collect()
        body = json.dumps(
            [
                {
                    "source": r.source,
                    "name": r.source_name,
                    "n_documents": r.n_documents,
                }
                for r in rows
            ]
        )
        return 200, "application/json", body

    # -- HTTP plumbing

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            timeout = REQUEST_TIMEOUT_S  # http.server closes the connection on TimeoutError

            def log_message(self, *args):  # quiet test runs
                pass

            def _respond(self, status: int, ctype: str, body) -> None:
                if isinstance(body, str):
                    data = body.encode("utf-8")
                    self.send_response(status)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                    return
                # streamed body (iterator of str chunks): no Content-Length,
                # connection-close delimited — chunks hit the socket as the
                # local iterator drains partitions
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Connection", "close")
                self.end_headers()
                try:
                    for chunk in body:
                        self.wfile.write(chunk.encode("utf-8"))
                        self.wfile.flush()
                except Exception:  # noqa: BLE001
                    # Mid-stream failure AFTER 200 + headers: the body is
                    # connection-close delimited, so a clean FIN would look
                    # like a complete (smaller) result. Abort with RST
                    # (SO_LINGER 0) so the client sees a transport error,
                    # exactly like the reference's piped writer dying.
                    import socket as _socket
                    import struct as _struct

                    try:
                        self.connection.setsockopt(
                            _socket.SOL_SOCKET,
                            _socket.SO_LINGER,
                            _struct.pack("ii", 1, 0),
                        )
                    except OSError:
                        pass
                    raise

            def do_GET(self):
                url = urlparse(self.path)
                if url.path == "/services":
                    return self._respond(*endpoint.services_dashboard())
                if url.path != "/sparql":
                    return self._respond(404, "text/plain", "not found")
                params = parse_qs(url.query)
                if "query" not in params:
                    # SPARQL 1.1 service description (the reference
                    # advertises its endpoint the same way,
                    # SparqlService.scala:203-246)
                    return self._respond(
                        200, "text/turtle", endpoint.service_description()
                    )
                if params.get("explain") == ["1"]:
                    return self._respond(*endpoint.explain(params["query"][0]))
                status, ctype, body = endpoint.handle(
                    params["query"][0], self.headers.get("Accept", "")
                )
                self._respond(status, ctype, body)

            def do_POST(self):
                url = urlparse(self.path)
                if url.path != "/sparql":
                    return self._respond(404, "text/plain", "not found")
                # a malformed request gets a 400, never a dropped
                # connection; a negative length would make rfile.read
                # wait for the client to hang up
                length = self.headers.get("Content-Length", "0")
                try:
                    n = int(length)
                except ValueError:
                    n = -1
                if n < 0:
                    return self._respond(400, "text/plain", f"bad Content-Length {length!r}")
                data = self.rfile.read(n)
                if len(data) < n:  # the client closed early: run none of it
                    return self._respond(
                        400, "text/plain", f"body is {len(data)} bytes, Content-Length {n}"
                    )
                try:
                    raw = data.decode("utf-8")
                except UnicodeDecodeError:
                    return self._respond(400, "text/plain", "request body is not UTF-8")
                ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
                # explain may ride in the URL whatever the body type; the
                # request text comes from the body only
                explain = parse_qs(url.query).get("explain") == ["1"]
                if ctype == "application/x-www-form-urlencoded":
                    params = parse_qs(raw)
                    explain = explain or params.get("explain") == ["1"]
                    text = (params.get("query") or params.get("update") or [""])[0]
                elif ctype in ("application/sparql-query", "application/sparql-update"):
                    text = raw
                else:
                    return self._respond(415, "text/plain", f"unsupported content type {ctype}")
                if not text:
                    return self._respond(400, "text/plain", "missing query")
                if explain:
                    return self._respond(*endpoint.explain(text))
                status, rtype, body = endpoint.handle(text, self.headers.get("Accept", ""))
                self._respond(status, rtype, body)

        self._server = ThreadingHTTPServer((host, port), Handler)
        thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        thread.start()
        return self._server.server_address[1]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
