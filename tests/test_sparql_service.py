"""SPARQL protocol service tests: dispatch, DESCRIBE, parameter bindings,
SPARQL 1.1 result serialization (JSON/XML/CSV), and the HTTP endpoint
round-trip including updates (reference api/SparqlService.scala:38-195)."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

# HTTP endpoint e2e
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from thymeflow_back_spark.api.service import (
    SparqlEndpoint,
    ask_json,
    execute_sparql,
    iter_select,
    query_form,
    select_json,
    select_xml,
)
from thymeflow_back_spark.plans.sparql import sparql_describe, sparql_select
from thymeflow_back_spark.rdf.model import QUAD_SCHEMA
from thymeflow_back_spark.rdf.store import StatementStore

PFX = 'PREFIX schema: <http://schema.org/> '

XSD_S = "http://www.w3.org/2001/XMLSchema#string"
XSD_I = "http://www.w3.org/2001/XMLSchema#integer"


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        ("urn:p:1", "http://schema.org/name", "Ada", "literal", XSD_S, None, "urn:g:a"),
        ("urn:p:1", "http://schema.org/email", "mailto:ada@x.org", "iri", None, None, "urn:g:a"),
        ("urn:p:1", "http://schema.org/age", "36", "literal", XSD_I, None, "urn:g:a"),
        ("urn:p:2", "http://schema.org/name", "Grace", "literal", None, "en", "urn:g:b"),
        ("mailto:ada@x.org", "http://schema.org/name", "ada mail", "literal", XSD_S, None, "urn:g:a"),
    ]
    return spark.createDataFrame(rows, QUAD_SCHEMA)


def test_query_form_dispatch(quads):
    assert query_form("SELECT ?x WHERE { ?x ?p ?o }") == "select"
    assert query_form(PFX + "ASK { ?x schema:name ?n }") == "ask"
    assert query_form("CONSTRUCT { ?x <urn:p> ?o } WHERE { ?x <urn:q> ?o }") == "construct"
    assert query_form("DESCRIBE <urn:p:1>") == "describe"
    assert query_form('INSERT DATA { <urn:s> <urn:p> "v" }') == "update"
    with pytest.raises(SyntaxError):
        query_form("FROBNICATE ?x")


def test_describe_explicit_iri(quads):
    out = sparql_describe(quads, "DESCRIBE <urn:p:1>")
    assert {r.predicate for r in out.collect()} == {
        "http://schema.org/name",
        "http://schema.org/email",
        "http://schema.org/age",
    }


def test_describe_var_where(quads):
    out = sparql_describe(
        quads, PFX + "DESCRIBE ?who WHERE { ?who schema:email ?m }"
    )
    rows = out.collect()
    assert {r.subject for r in rows} == {"urn:p:1"}
    with pytest.raises(SyntaxError):
        sparql_describe(quads, "DESCRIBE ?who")


def test_select_bindings(quads):
    df = sparql_select(
        quads,
        PFX + "SELECT ?who ?n WHERE { ?who schema:name ?n }",
        bindings={"who": "urn:p:2"},
    )
    assert [(r.who, r.n) for r in df.collect()] == [("urn:p:2", "Grace")]


def test_select_json_exact_term_kinds(quads):
    df = sparql_select(
        quads,
        PFX + "SELECT ?who ?m ?n ?a WHERE { ?who schema:email ?m . ?who schema:name ?n . ?who schema:age ?a }",
        keep_term_types=True,
    )
    doc = json.loads(select_json(df))
    assert set(doc["head"]["vars"]) == {"who", "m", "n", "a"}
    [b] = doc["results"]["bindings"]
    assert b["who"] == {"type": "uri", "value": "urn:p:1"}  # subject position → uri
    assert b["m"] == {"type": "uri", "value": "mailto:ada@x.org"}  # object, typed iri
    assert b["n"] == {"type": "literal", "value": "Ada"}  # xsd:string stays plain
    assert b["a"] == {"type": "literal", "value": "36", "datatype": XSD_I}


def test_select_json_lang_tag(quads):
    df = sparql_select(
        quads, PFX + 'SELECT ?n WHERE { <urn:p:2> schema:name ?n }', keep_term_types=True
    )
    [b] = json.loads(select_json(df))["results"]["bindings"]
    assert b["n"] == {"type": "literal", "value": "Grace", "xml:lang": "en"}


def test_select_json_aggregate_typing(quads):
    df = sparql_select(
        quads, PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?s schema:name ?x }", keep_term_types=True
    )
    [b] = json.loads(select_json(df))["results"]["bindings"]
    assert b["n"]["datatype"].endswith("integer") and b["n"]["value"] == "3"


def test_select_xml_and_csv(quads):
    df = sparql_select(
        quads, PFX + "SELECT ?n WHERE { <urn:p:1> schema:name ?n }", keep_term_types=True
    )
    xml = select_xml(df)
    assert '<variable name="n"/>' in xml and "<literal>Ada</literal>" in xml
    csv = "".join(iter_select(df, "text/csv"))
    assert csv.splitlines() == ["n", "Ada"]


def test_execute_update_roundtrip(spark, quads):
    store = StatementStore(quads)
    result = execute_sparql(
        store, 'INSERT DATA { GRAPH <urn:g:u> { <urn:p:3> <http://schema.org/name> "Edsger" } }'
    )
    assert result.kind == "update"
    assert result.store.quads.filter(F.col("object_value") == "Edsger").count() == 1


def test_http_endpoint(quads):
    endpoint = SparqlEndpoint(StatementStore(quads))
    port = endpoint.start()
    base = f"http://127.0.0.1:{port}/sparql"
    try:
        # GET select (JSON default)
        q = urllib.parse.quote(PFX + "SELECT ?n WHERE { <urn:p:1> schema:name ?n }")
        with urllib.request.urlopen(f"{base}?query={q}") as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("application/sparql-results+json")
            doc = json.loads(resp.read())
        assert doc["results"]["bindings"][0]["n"]["value"] == "Ada"

        # CSV content negotiation
        req = urllib.request.Request(f"{base}?query={q}", headers={"Accept": "text/csv"})
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Type"].startswith("text/csv")
            assert b"Ada" in resp.read()

        # ASK
        q = urllib.parse.quote(PFX + "ASK { ?x schema:name ?n }")
        with urllib.request.urlopen(f"{base}?query={q}") as resp:
            assert json.loads(resp.read()) == json.loads(ask_json(True))

        # POST update (form-encoded), then read the write through GET
        body = urllib.parse.urlencode(
            {"update": 'INSERT DATA { GRAPH <urn:g:u> { <urn:p:9> <http://schema.org/name> "New" } }'}
        ).encode()
        req = urllib.request.Request(
            base, data=body, headers={"Content-Type": "application/x-www-form-urlencoded"}
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 204
        q = urllib.parse.quote(PFX + "SELECT ?n WHERE { <urn:p:9> schema:name ?n }")
        with urllib.request.urlopen(f"{base}?query={q}") as resp:
            doc = json.loads(resp.read())
        assert doc["results"]["bindings"][0]["n"]["value"] == "New"

        # DESCRIBE over POST application/sparql-query → N-Triples
        req = urllib.request.Request(
            base,
            data=b"DESCRIBE <urn:p:1>",
            headers={"Content-Type": "application/sparql-query"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Type"].startswith("application/n-triples")
            text = resp.read().decode()
        assert "<urn:p:1> <http://schema.org/name> \"Ada\"" in text

        # malformed query → 400 (MalformedQueryException parity)
        q = urllib.parse.quote("SELECT ?x WHERE { ?x }")
        try:
            urllib.request.urlopen(f"{base}?query={q}")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        endpoint.stop()


def test_endpoint_row_cap_and_runtime_error(quads):
    """A SELECT bigger than max_rows gets 413 (driver-side OOM guard, the
    limit is pushed into the plan); a runtime evaluation error gets 500, not
    a dead connection; small results are unaffected."""
    endpoint = SparqlEndpoint(StatementStore(quads), max_rows=2)
    # quads fixture has >2 statements → ?s ?p ?o exceeds the cap
    status, ctype, body = endpoint.handle("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
    assert status == 413 and "max_rows=2" in body
    # within the cap: normal 200
    status, _, body = endpoint.handle(
        PFX + "SELECT ?n WHERE { <urn:p:1> schema:name ?n }"
    )
    assert status == 200 and "Ada" in body
    # CONSTRUCT over the cap → 413 too
    status, _, body = endpoint.handle(
        "CONSTRUCT { ?s <urn:pp> ?o } WHERE { ?s ?p ?o }"
    )
    assert status == 413
    # a variable name containing '__' is a legitimate projection, not hidden
    status, _, body = endpoint.handle(
        PFX + "SELECT ?my__var WHERE { <urn:p:1> schema:name ?my__var }"
    )
    assert status == 200 and "my__var" in body and "Ada" in body


def test_endpoint_runtime_error_returns_500(quads, monkeypatch):
    import thymeflow_back_spark.api.service as svc

    endpoint = SparqlEndpoint(StatementStore(quads))

    def boom(*args, **kwargs):
        raise RuntimeError("kaput")

    monkeypatch.setattr(svc, "execute_sparql", boom)
    status, _, body = endpoint.handle("SELECT ?s WHERE { ?s ?p ?o }")
    assert status == 500 and "kaput" in body


def test_service_description_and_dashboard(spark, quads):
    from thymeflow_back_spark.rdf import vocab
    from thymeflow_back_spark.rdf.model import QUAD_SCHEMA

    meta = spark.createDataFrame(
        [
            ("urn:doc:1", vocab.DOCUMENT_OF, "urn:src:inbox", "iri", None, None, vocab.SERVICE_GRAPH),
            ("urn:doc:2", vocab.DOCUMENT_OF, "urn:src:inbox", "iri", None, None, vocab.SERVICE_GRAPH),
            ("urn:src:inbox", vocab.NAME, "inbox", "literal", None, None, vocab.SERVICE_GRAPH),
        ],
        QUAD_SCHEMA,
    )
    endpoint = SparqlEndpoint(StatementStore(quads.unionByName(meta)))
    port = endpoint.start()
    base = f"http://127.0.0.1:{port}"
    try:
        # bare GET /sparql → SPARQL 1.1 service description, not an error
        with urllib.request.urlopen(f"{base}/sparql") as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/turtle")
            body = resp.read().decode()
        assert "sd:SPARQL11Query" in body and "sd:UnionDefaultGraph" in body

        # /services dashboard: per-source document counts
        with urllib.request.urlopen(f"{base}/services") as resp:
            assert resp.headers["Content-Type"].startswith("application/json")
            doc = json.loads(resp.read())
        assert doc == [{"source": "urn:src:inbox", "name": "inbox", "n_documents": 2}]
    finally:
        endpoint.stop()


def test_tsv_term_encoding(quads):
    df = sparql_select(
        quads,
        PFX + "SELECT ?who ?m ?n ?a WHERE { ?who schema:email ?m . ?who schema:name ?n . ?who schema:age ?a }",
        keep_term_types=True,
    )
    lines = "".join(iter_select(df, "text/tab-separated-values")).splitlines()
    assert lines[0].split("\t") == ["?who", "?m", "?n", "?a"]
    assert lines[1].split("\t") == [
        "<urn:p:1>",
        "<mailto:ada@x.org>",
        '"Ada"',
        f'"36"^^<{XSD_I}>',
    ]
    # language-tagged literal
    df = sparql_select(
        quads, PFX + "SELECT ?n WHERE { <urn:p:2> schema:name ?n }", keep_term_types=True
    )
    assert "".join(iter_select(df, "text/tab-separated-values")).splitlines()[1] == '"Grace"@en'


def test_endpoint_streams_line_formats_past_cap(quads):
    """CSV/TSV stream through toLocalIterator with NO row cap (the piped-
    writer parity path); document formats keep the 413 guard."""
    endpoint = SparqlEndpoint(StatementStore(quads), max_rows=2)
    big = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
    status, ctype, body = endpoint.handle(big, accept="text/csv")
    assert status == 200 and not isinstance(body, str)
    text = "".join(body)
    assert len(text.splitlines()) == 1 + 5  # header + all 5 quads, no cap
    status, ctype, body = endpoint.handle(big, accept="text/tab-separated-values")
    assert status == 200
    text = "".join(body)
    assert text.splitlines()[0] == "?s\t?p\t?o" and len(text.splitlines()) == 6
    # JSON still capped
    status, _, body = endpoint.handle(big)
    assert status == 413


def test_http_streaming_no_content_length(quads):
    endpoint = SparqlEndpoint(StatementStore(quads), max_rows=2)
    port = endpoint.start()
    base = f"http://127.0.0.1:{port}/sparql"
    try:
        q = urllib.parse.quote("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
        req = urllib.request.Request(f"{base}?query={q}", headers={"Accept": "text/csv"})
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert resp.headers.get("Content-Length") is None
            body = resp.read().decode()
        assert len(body.splitlines()) == 6  # connection-close delimited, complete
    finally:
        endpoint.stop()


def test_csv_nullable_int_null_cell(spark):
    """CSV goes through pandas, where a NULL in an integer column is a
    nullable-Int64 pd.NA: it must serialize as an empty cell next to
    exact integers, not float-ify the column ('4.0') or crash."""
    df = spark.createDataFrame([(4, "urn:a"), (None, "urn:b")], "s long, who string").orderBy("who")
    lines = "".join(iter_select(df, "text/csv")).splitlines()
    assert lines == ["s,who", "4,urn:a", ",urn:b"]


def test_streamed_tsv_exact_big_ints_with_nulls(spark):
    """The streamed TSV writer serializes straight off Row dicts: a chunk
    whose bigint column holds a NULL next to a value > 2^53 must emit the
    exact digits (a pandas round-trip would float-ify the column and round
    9007199254740993 to ...992)."""
    from thymeflow_back_spark.api.service import iter_select

    df = spark.createDataFrame(
        [(1, 9007199254740993), (2, None)], "k long, v long"
    ).orderBy("k")
    body = "".join(iter_select(df, "text/tab-separated-values"))
    lines = body.split("\n")
    assert lines[0] == "?k\t?v"
    assert '"9007199254740993"' in lines[1]
    assert lines[2].endswith("\t")  # NULL stays an empty (unbound) cell


def test_formats_agree_on_null_bearing_int_column(spark):
    """The same NULL-bearing integer binding must type identically across
    Accept formats: the endpoint coerces to nullable Int64 BEFORE
    negotiation, so JSON/XML emit xsd:integer with exact digits — not the
    xsd:double/'...992.0' a float64 toPandas round-trip would produce."""
    import json as _json

    from thymeflow_back_spark.api.service import (
        _exact_pandas,
        _spark_kinds,
        _stable_int_cols,
        select_json,
    )

    df = spark.createDataFrame([(1, 9007199254740993), (2, None)], "k long, n long")
    # the endpoint's capped path: exact Arrow collection (plain toPandas
    # float-ifies a NULL-bearing int64 column BEFORE any coercion could
    # help), then the unconditional Int64 coercion, then any writer
    pdf = _stable_int_cols(_exact_pandas(df), _spark_kinds(df))
    doc = _json.loads(select_json(pdf))
    terms = {b["k"]["value"]: b.get("n") for b in doc["results"]["bindings"]}
    assert terms["1"]["datatype"] == "http://www.w3.org/2001/XMLSchema#integer"
    assert terms["1"]["value"] == "9007199254740993"
    assert terms["2"] is None  # NULL stays unbound, not NaN-serialized


def test_explain_returns_compiled_statement(quads):
    """explain=1 (GET, form or POST URL parameter) answers with the Spark SQL
    statement and its named parameters as text/plain; nothing runs, so an
    update explained this way leaves the store unchanged."""
    endpoint = SparqlEndpoint(StatementStore(quads))
    store = endpoint.store
    base = f"http://127.0.0.1:{endpoint.start()}/sparql"
    try:
        q = PFX + 'SELECT ?who WHERE { ?who schema:name "Ada" }'
        with urllib.request.urlopen(f"{base}?explain=1&query={urllib.parse.quote(q)}") as resp:
            assert resp.headers["Content-Type"].startswith("text/plain")
            text = resp.read().decode()
        statement, _, params = text.partition("\n-- ")
        assert statement.startswith("SELECT") and "{store}" in statement
        # constants are parameters, never SQL text
        assert "Ada" not in statement and "schema.org" not in statement
        assert '"Ada"' in params and '"http://schema.org/name"' in params

        update = 'DELETE WHERE { ?s <http://schema.org/name> "Ada" }'
        body = urllib.parse.urlencode({"update": update, "explain": "1"}).encode()
        req = urllib.request.Request(
            base, data=body, headers={"Content-Type": "application/x-www-form-urlencoded"}
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200 and "__added" in resp.read().decode()
        # from the POST URL only explain is read: the body's update wins
        # over a query= there
        req = urllib.request.Request(
            f"{base}?explain=1&query={urllib.parse.quote(q)}",
            data=urllib.parse.urlencode({"update": update}).encode(),
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200 and "__added" in resp.read().decode()
        assert endpoint.store is store

        req = urllib.request.Request(
            f"{base}?explain=1", data=b"SELECT ?x WHERE { ?x }",
            headers={"Content-Type": "application/sparql-query"},
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        endpoint.stop()


def test_store_versions_do_not_leak_views(spark, quads):
    """A statement reads the store as a DataFrame argument of its one
    ``spark.sql`` call; no store version, current or replaced, leaves a
    view in the session catalog."""
    import gc

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    endpoint = SparqlEndpoint(StatementStore(quads))
    read = PFX + "SELECT ?n WHERE { <urn:p:1> schema:name ?n }"
    for i in range(20):
        if i % 2:
            update = f'INSERT DATA {{ <urn:p:1> <urn:tag> "t{i}" }}'
        else:
            update = f'DELETE {{ ?s <urn:tag> ?t }} INSERT {{ ?s <urn:tag> "t{i}" }} WHERE {{ ?s <urn:tag> ?t }}'
        assert endpoint.handle(update)[0] == 204
        assert endpoint.handle(read)[0] == 200
    gc.collect()
    assert endpoint.handle(read)[0] == 200
    assert views() == before
