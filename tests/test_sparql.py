"""SPARQL text front-end tests: parse → compile → run over a quad fixture
(the §2.3 operator contract through the string surface)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from thymeflow_back_spark.plans.sparql import sparql_ask, sparql_select
from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import make_quads


def iri_q(s, p, o, g):
    return (s, p, o, "iri", None, None, g)


XSD_S = "http://www.w3.org/2001/XMLSchema#string"


def lit_q(s, p, o, g):
    return (s, p, o, "literal", XSD_S, None, g)


@pytest.fixture()
def quads(spark):
    return make_quads(
        spark,
        [
            iri_q("p:alice", vocab.RDF_TYPE, "c:Person", "g:a"),
            lit_q("p:alice", "schema:name", "Alice", "g:a"),
            lit_q("p:alice", "schema:email", "a@x.y", "g:a"),
            iri_q("p:bob", vocab.RDF_TYPE, "c:Person", "g:b"),
            lit_q("p:bob", "schema:name", "Bob", "g:b"),
            iri_q("p:carol", vocab.RDF_TYPE, "c:Robot", "g:b"),
            lit_q("p:carol", "schema:name", "Carol", "g:b"),
            lit_q("p:carol", "p:age", "5", "g:b"),
            iri_q("p:alice", "p:knows", "p:bob", "g:a"),
            iri_q("p:bob", "p:knows", "p:carol", "g:b"),
        ],
    ).localCheckpoint(eager=True)


PFX = 'PREFIX p: <p:> PREFIX c: <c:> PREFIX schema: <schema:> PREFIX g: <g:> '


def test_select_bgp_optional(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?name ?email WHERE {
          ?who a c:Person ; schema:name ?name .
          OPTIONAL { ?who schema:email ?email }
        } ORDER BY ?name
        """,
    ).collect()
    assert [(r.who, r.name, r.email) for r in rows] == [
        ("p:alice", "Alice", "a@x.y"),
        ("p:bob", "Bob", None),
    ]


def test_two_hop_join_and_optional(spark):
    """A variable bound in object position and reused as a subject joins
    the two patterns; under OPTIONAL, a left row without a match is kept
    with the right side unbound."""
    quads = make_quads(
        spark,
        [
            iri_q("alice", "email", "a@x", "g"),
            lit_q("a@x", "name", "A. Smith", "g"),
            iri_q("bob", "email", "b@x", "g"),
        ],
    )
    rows = sparql_select(
        quads, "SELECT ?agent ?em ?name WHERE { ?agent <email> ?em . ?em <name> ?name }"
    ).collect()
    assert [(r.agent, r.em, r.name) for r in rows] == [("alice", "a@x", "A. Smith")]
    rows = sparql_select(
        quads, "SELECT ?agent ?name WHERE { ?agent <email> ?em . OPTIONAL { ?em <name> ?name } }"
    ).collect()
    assert {(r.agent, r.name) for r in rows} == {("alice", "A. Smith"), ("bob", None)}


def test_object_object_join_checks_term_kinds(spark):
    """A variable shared by two object positions matches on its value AND
    its term kind: an IRI and a literal with the same text join to
    nothing. The kind columns are not equi-join keys (datatype and lang
    are NULL for IRIs, and NULL = NULL is not true), so two IRIs still
    match; under OPTIONAL the mismatch keeps the left row, right side
    unbound."""
    quads = make_quads(
        spark,
        [
            iri_q("alice", "attends", "ev1", "g"),
            iri_q("bob", "hosts", "ev1", "g"),
            iri_q("carol", "attends", "ev2", "g"),
            ("dave", "hosts", "ev2", "literal", None, None, "g"),
        ],
    )
    rows = sparql_select(quads, "SELECT ?a ?b ?e WHERE { ?a <attends> ?e . ?b <hosts> ?e }").collect()
    assert {(r.a, r.b, r.e) for r in rows} == {("alice", "bob", "ev1")}
    rows = sparql_select(
        quads, "SELECT ?a ?e ?b WHERE { ?a <attends> ?e . OPTIONAL { ?b <hosts> ?e } }"
    ).collect()
    assert {(r.a, r.e, r.b) for r in rows} == {("alice", "ev1", "bob"), ("carol", "ev2", None)}


def test_union_and_filter_in(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who WHERE {
          { ?who a c:Person } UNION { ?who a c:Robot }
          ?who schema:name ?name .
          FILTER(?name IN ("Alice", "Carol"))
        } ORDER BY ?who
        """,
    ).collect()
    assert [r.who for r in rows] == ["p:alice", "p:carol"]


def test_graph_scoping(quads):
    rows = sparql_select(
        quads,
        PFX + "SELECT ?who WHERE { GRAPH g:a { ?who a c:Person } }",
    ).collect()
    assert [r.who for r in rows] == ["p:alice"]


def test_numeric_filter_and_limit(quads):
    rows = sparql_select(
        quads,
        PFX + "SELECT ?who WHERE { ?who p:age ?age . FILTER(?age > 3) } LIMIT 1",
    ).collect()
    assert [r.who for r in rows] == ["p:carol"]


def test_group_count_distinct(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?cls (COUNT(?who) AS ?n) WHERE { ?who a ?cls }
        GROUP BY ?cls ORDER BY DESC(?n) ?cls
        """,
    ).collect()
    assert [(r.cls, r.n) for r in rows] == [("c:Person", 2), ("c:Robot", 1)]


def test_property_path_sequence(quads):
    # knows/name: one-hop chain desugared to a fresh intermediate variable
    rows = sparql_select(
        quads,
        PFX + "SELECT ?name WHERE { p:alice p:knows/schema:name ?name }",
    ).collect()
    assert [r.name for r in rows] == ["Bob"]


def test_property_path_star(quads):
    # knows*: reflexive-transitive closure — alice reaches herself, bob, carol
    rows = sparql_select(
        quads,
        PFX + "SELECT ?who WHERE { p:alice p:knows* ?who } ORDER BY ?who",
    ).collect()
    assert [r.who for r in rows] == ["p:alice", "p:bob", "p:carol"]


def test_ask(quads):
    assert sparql_ask(quads, PFX + "ASK { ?x schema:email ?e }")
    assert not sparql_ask(quads, PFX + 'ASK { ?x schema:email "nobody@x" }')


def test_sample_aggregate(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?cls (SAMPLE(?name) AS ?a_name) WHERE {
          ?who a ?cls ; schema:name ?name
        } GROUP BY ?cls ORDER BY ?cls
        """,
    ).collect()
    assert rows[0].cls == "c:Person" and rows[0].a_name in ("Alice", "Bob")


def test_parse_errors(quads):
    with pytest.raises(SyntaxError):
        sparql_select(quads, "SELECT ?x WHERE { ?x unknown:p ?y }")
    with pytest.raises(SyntaxError):
        sparql_select(quads, "SELECT ?x WHERE { ?x }")


# --- CONSTRUCT / UPDATE text surface -----------------------------------------

from thymeflow_back_spark.plans.sparql import sparql_construct, sparql_update_diff
from thymeflow_back_spark.rdf.store import StatementStore
from thymeflow_back_spark.update.updater import apply_update


def test_construct_preserves_object_terms(quads):
    out = sparql_construct(
        quads,
        PFX
        + """
        CONSTRUCT { ?who <urn:copiedName> ?name . ?who a <urn:Copied> }
        WHERE { ?who schema:name ?name }
        """,
    )
    rows = out.collect()
    names = [r for r in rows if r.predicate == "urn:copiedName"]
    types = [r for r in rows if r.predicate.endswith("#type")]
    assert len(names) == 3 and len(types) == 3
    # literal-ness came from the store's type columns, not a lexical guess
    assert all(r.object_type == "literal" for r in names)
    assert all(r.object_type == "iri" and r.object_value == "urn:Copied" for r in types)
    assert all(r.graph == "urn:graph:construct" for r in rows)


def test_construct_graph_template(quads):
    out = sparql_construct(
        quads,
        PFX + "CONSTRUCT { GRAPH <urn:g:out> { ?a <urn:p> ?n } } WHERE { ?a schema:name ?n }",
    )
    assert [r.graph for r in out.select("graph").distinct().collect()] == ["urn:g:out"]


def test_update_insert_delete_data(quads):
    diff = sparql_update_diff(
        quads,
        """
        INSERT DATA { GRAPH <urn:g:u> { <urn:new> <urn:p> "v" . <urn:new> a <urn:T> } } ;
        DELETE DATA { <urn:gone> <urn:p> "x" }
        """,
    )
    added = diff.added.collect()
    assert {(r.subject, r.object_value, r.graph) for r in added} == {
        ("urn:new", "v", "urn:g:u"),
        ("urn:new", "urn:T", "urn:g:u"),
    }
    assert [(r.subject, r.graph) for r in diff.removed.collect()] == [("urn:gone", None)]
    # ground-ness is enforced
    with pytest.raises(SyntaxError):
        sparql_update_diff(quads, "INSERT DATA { ?x <urn:p> 1 }")


def test_update_delete_where_roundtrip(quads):
    """DELETE WHERE matches store quads; apply_update removes them all,
    including the graphless-removal expansion to their actual graphs."""
    store = StatementStore(quads)
    diff = sparql_update_diff(quads, PFX + "DELETE WHERE { ?a schema:name ?n }")
    assert diff.removed.count() == 3
    updated = apply_update(store, diff, synchronized_graph_prefix="urn:never:")
    assert updated.quads.filter(F.col("predicate") == "schema:name").count() == 0
    assert updated.quads.count() == quads.count() - 3


def test_registered_function_call(spark):
    """Custom SPARQL functions from the FunctionRegistry surface
    (personal:duration / personal:durationInMillis,
    RepositoryFactory.scala:248-251)."""
    xsd_dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    rows = [
        ("urn:e:1", "urn:p:start", "2026-01-01T10:00:00", "literal", xsd_dt, None, "g"),
        ("urn:e:1", "urn:p:end", "2026-01-01T11:30:05", "literal", xsd_dt, None, "g"),
    ]
    q = spark.createDataFrame(
        rows,
        "subject string, predicate string, object_value string, object_type string,"
        "object_datatype string, object_lang string, graph string",
    )
    df = sparql_select(
        q,
        """
        PREFIX personal: <urn:personal:>
        SELECT ?e (personal:durationInMillis(?s, ?t) AS ?ms)
               (personal:duration(?s, ?t) AS ?dur)
        WHERE { ?e <urn:p:start> ?s . ?e <urn:p:end> ?t }
        """,
    )
    [r] = df.collect()
    assert r.e == "urn:e:1"
    assert r.ms == (90 * 60 + 5) * 1000
    assert r.dur == "PT1H30M5.0S"
    with pytest.raises(SyntaxError):
        sparql_select(q, "SELECT (<urn:nope>(?x) AS ?y) WHERE { ?a <urn:p:start> ?x }")


# --- SPARQL 1.1 grammar extensions -------------------------------------------
# nested subqueries, BIND, VALUES, MINUS, FILTER [NOT] EXISTS, property-path
# + and |, and DELETE/INSERT…WHERE — the surface RDF4J gives the reference
# for free (api/SparqlService.scala:78-98)


def test_nested_subquery_primary_facet_shape(quads):
    """The reference's own primary-facet query verbatim in shape
    (PrimaryFacetEnricher.scala:20-27): nested SELECT over a sameAs*-style
    closure, grouped outside, ordered by an unprojected COUNT."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?facet WHERE {
          {
            SELECT ?facet {
              ?facet p:knows* ?startFacet .
            }
          }
          ?facet ?descriptionProperty ?descriptionValue .
        } GROUP BY ?facet ORDER BY DESC(COUNT(?descriptionProperty))
        """,
        bindings={"startFacet": "p:carol"},
    ).collect()
    # alice knows* carol (2 hops), bob knows* carol (1 hop), carol reaches
    # itself by the zero-length path even with no outgoing knows edge
    assert {r.facet for r in rows} == {"p:alice", "p:bob", "p:carol"}
    # alice has 4 description triples (type, name, email, knows) — the rest 3
    assert rows[0].facet == "p:alice"


def test_bind_arithmetic(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?age2 WHERE {
          ?who p:age ?age .
          BIND((?age * 2) AS ?age2)
        }
        """,
    ).collect()
    assert [(r.who, r.age2) for r in rows] == [("p:carol", 10.0)]


def test_values_single_and_multi(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?name WHERE {
          ?who schema:name ?name .
          VALUES ?name { "Alice" "Bob" }
        } ORDER BY ?name
        """,
    ).collect()
    assert [(r.who, r.name) for r in rows] == [("p:alice", "Alice"), ("p:bob", "Bob")]
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?name WHERE {
          VALUES (?who ?name) { (p:alice "Alice") (p:bob "nope") }
          ?who schema:name ?name .
        }
        """,
    ).collect()
    assert [(r.who, r.name) for r in rows] == [("p:alice", "Alice")]


def test_minus_and_not_exists(quads):
    for clause in (
        "MINUS { ?who schema:email ?e }",
        "FILTER NOT EXISTS { ?who schema:email ?e }",
        "FILTER (NOT EXISTS { ?who schema:email ?e })",
    ):
        rows = sparql_select(
            quads,
            PFX + "SELECT ?who WHERE { ?who a c:Person . " + clause + " }",
        ).collect()
        assert [r.who for r in rows] == ["p:bob"], clause
    rows = sparql_select(
        quads,
        PFX + "SELECT ?who WHERE { ?who a c:Person . FILTER EXISTS { ?who schema:email ?e } }",
    ).collect()
    assert [r.who for r in rows] == ["p:alice"]


def test_property_path_alternation_and_plus(quads):
    rows = sparql_select(
        quads,
        PFX + "SELECT ?v WHERE { p:alice (schema:name|schema:email) ?v } ORDER BY ?v",
    ).collect()
    assert [r.v for r in rows] == ["Alice", "a@x.y"]
    rows = sparql_select(
        quads,
        PFX + "SELECT ?who WHERE { p:alice p:knows+ ?who } ORDER BY ?who",
    ).collect()
    assert [r.who for r in rows] == ["p:bob", "p:carol"]


def test_update_modify_where(quads):
    """DELETE {tmpl} INSERT {tmpl} WHERE {pattern} — template + pattern
    (the form the round-2 grammar lacked; Updater routes the diff)."""
    diff = sparql_update_diff(
        quads,
        PFX
        + """
        DELETE { ?s schema:email ?e }
        INSERT { ?s p:hadEmail ?e }
        WHERE { ?s schema:email ?e }
        """,
    )
    assert [(r.subject, r.predicate, r.object_value) for r in diff.removed.collect()] == [
        ("p:alice", "schema:email", "a@x.y")
    ]
    assert [(r.subject, r.predicate, r.object_value) for r in diff.added.collect()] == [
        ("p:alice", "p:hadEmail", "a@x.y")
    ]


def test_reference_queries_verbatim(spark):
    """Queries lifted verbatim from the reference's enrichers (IRIs expanded
    the way Scala string interpolation would): they must parse and compile.
    AgentMatchEnricher.scala:87-137, PrimaryFacetEnricher.scala:20-27."""
    from thymeflow_back_spark.rdf.model import make_quads

    personal = "http://thymeflow.com/personal#"
    schema = "http://schema.org/"
    quads = make_quads(
        spark,
        [
            ("a:1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", personal + "Agent", "iri", None, None, "g:x"),
            ("a:1", schema + "name", "Ann", "literal", None, None, "g:x"),
            ("a:1", schema + "email", "e:1", "iri", None, None, "g:x"),
            ("e:1", schema + "name", "ann@x.y", "literal", None, None, "g:x"),
            ("m:1", schema + "sender", "a:1", "iri", None, None, "g:x"),
            ("a:1", personal + "sameAs", "a:2", "iri", None, None, personal + "inverseFunctionalInferencerOutput"),
        ],
    )
    same_agent_as = f"""SELECT ?agent ?sameAs WHERE {{
      ?agent a <{personal}Agent> .
      GRAPH <{personal}inverseFunctionalInferencerOutput> {{
        ?agent <{personal}sameAs> ?sameAs .
      }}
    }}"""
    assert [(r.agent, r.sameAs) for r in sparql_select(quads, same_agent_as).collect()] == [
        ("a:1", "a:2")
    ]

    agent_emails = f"""SELECT ?agent ?emailAddress WHERE {{
       ?agent a <{personal}Agent> ;
              <{schema}email>/<{schema}name> ?emailAddress .
    }}"""
    assert [(r.agent, r.emailAddress) for r in sparql_select(quads, agent_emails).collect()] == [
        ("a:1", "ann@x.y")
    ]

    msgs_by_name = f"""SELECT ?agent ?name (COUNT(?msg) as ?msgCount) WHERE {{
      ?agent a <{personal}Agent> ;
               <{schema}name> ?name .
      OPTIONAL {{
        {{
          ?msg <{schema}recipient> ?agent .
        }} UNION {{
          ?msg <{schema}sender> ?agent .
        }}
      }}
    }} GROUP BY ?agent ?name"""
    assert [(r.agent, r.name, r.msgCount) for r in sparql_select(quads, msgs_by_name).collect()] == [
        ("a:1", "Ann", 1)
    ]

    agents_name_email = f"""
SELECT ?s ?email ?name
WHERE {{
?s a <{personal}Agent> .
OPTIONAL {{ ?s <http://schema.org/email>/<http://schema.org/name> ?email }} .
OPTIONAL{{ ?s <http://schema.org/name> ?name }}
}}
    """
    assert [(r.s, r.email, r.name) for r in sparql_select(quads, agents_name_email).collect()] == [
        ("a:1", "ann@x.y", "Ann")
    ]

    primary_facet = f"""SELECT ?facet WHERE {{
      {{
        SELECT ?facet {{
          ?facet <{personal}sameAs>* ?startFacet .
        }}
      }}
      ?facet ?descriptionProperty ?descriptionValue .
    }} GROUP BY ?facet ORDER BY DESC(COUNT(?descriptionProperty))"""
    rows = sparql_select(quads, primary_facet, bindings={"startFacet": "a:2"}).collect()
    assert [r.facet for r in rows] == ["a:1"]


def test_filter_builtins(quads):
    # REGEX with case-insensitive flag
    rows = sparql_select(
        quads,
        PFX + 'SELECT ?who WHERE { ?who schema:name ?n . FILTER regex(?n, "^ali", "i") }',
    ).collect()
    assert [r.who for r in rows] == ["p:alice"]
    # CONTAINS / STRSTARTS / STRLEN / LCASE
    rows = sparql_select(
        quads,
        PFX + 'SELECT ?n WHERE { ?x schema:name ?n . FILTER (CONTAINS(?n, "aro") && STRLEN(?n) = 5) }',
    ).collect()
    assert [r.n for r in rows] == ["Carol"]
    rows = sparql_select(
        quads,
        PFX + 'SELECT ?n WHERE { ?x schema:name ?n . FILTER (LCASE(?n) = "bob") }',
    ).collect()
    assert [r.n for r in rows] == ["Bob"]
    # STRSTARTS standalone (truthy builtin, no comparator)
    rows = sparql_select(
        quads,
        PFX + 'SELECT ?n WHERE { ?x schema:name ?n . FILTER STRSTARTS(?n, "A") }',
    ).collect()
    assert [r.n for r in rows] == ["Alice"]
    # BOUND with OPTIONAL
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who WHERE {
          ?who a c:Person . OPTIONAL { ?who schema:email ?e }
          FILTER (!BOUND(?e))
        }
        """,
    ).collect()
    assert [r.who for r in rows] == ["p:bob"]
    # BIND over a builtin
    rows = sparql_select(
        quads,
        PFX + 'SELECT ?u WHERE { <p:alice> schema:name ?n . BIND(UCASE(?n) AS ?u) }',
    ).collect()
    assert [r.u for r in rows] == ["ALICE"]
    with pytest.raises(SyntaxError):
        sparql_select(quads, 'SELECT ?x WHERE { ?x <urn:p> ?n . FILTER NOPE(?n) }')


def test_values_undef_wildcard(quads):
    """An UNDEF cell is a per-row wildcard, not an equality constraint."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?name WHERE {
          ?who schema:name ?name .
          VALUES (?who ?name) { (p:alice UNDEF) (p:bob "nope") }
        }
        """,
    ).collect()
    assert [(r.who, r.name) for r in rows] == [("p:alice", "Alice")]


def test_construct_where_shorthand(quads):
    """SPARQL 1.1 CONSTRUCT WHERE { … }: the pattern doubles as template."""
    out = sparql_construct(
        quads,
        PFX + "CONSTRUCT WHERE { ?x schema:name ?n }",
    ).collect()
    assert {(r.subject, r.predicate, r.object_value) for r in out} == {
        ("p:alice", "schema:name", "Alice"),
        ("p:bob", "schema:name", "Bob"),
        ("p:carol", "schema:name", "Carol"),
    }
    assert all(r.object_type == "literal" for r in out)
    with pytest.raises(SyntaxError):
        sparql_construct(
            quads, PFX + "CONSTRUCT WHERE { ?x schema:name ?n . FILTER (?n = \"x\") }"
        )


def test_filter_exists_group_scope(quads):
    """FILTER [NOT] EXISTS applies to the WHOLE group regardless of textual
    position (SPARQL filter scoping) — a leading one must not be dropped."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who WHERE {
          FILTER NOT EXISTS { ?who schema:email ?e }
          ?who a c:Person .
        }
        """,
    ).collect()
    assert [r.who for r in rows] == ["p:bob"]


def test_values_first_undef(quads):
    """A leading VALUES with UNDEF keeps wildcard semantics (deferred to
    the first pattern merge, not equi-joined on NULL)."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?name WHERE {
          VALUES (?who ?name) { (p:alice UNDEF) }
          ?who schema:name ?name .
        }
        """,
    ).collect()
    assert [(r.who, r.name) for r in rows] == [("p:alice", "Alice")]


def test_graph_scoped_star_path(spark):
    """GRAPH <g> { ?a p* ?b }: the closure must only use edges (and the
    zero-length universe) of that graph."""
    from thymeflow_back_spark.rdf.model import make_quads

    quads = make_quads(
        spark,
        [
            ("a", "p:knows", "b", "iri", None, None, "g:one"),
            ("b", "p:knows", "c", "iri", None, None, "g:two"),
        ],
    )
    rows = sparql_select(
        quads,
        'PREFIX p: <p:> PREFIX g: <g:> '
        "SELECT ?x WHERE { GRAPH <g:one> { <a> p:knows* ?x } } ORDER BY ?x",
    ).collect()
    # b→c lives in g:two — the scoped closure must stop at b
    assert [r.x for r in rows] == ["a", "b"]


def test_star_path_reflexive_over_literals(quads):
    """Zero-length paths hold for literal terms too (RDF4J ZeroLengthPath):
    ?x p* "Alice" with no p edges yields x = "Alice"."""
    rows = sparql_select(
        quads,
        PFX + 'SELECT ?x WHERE { ?x <p:nonexistent>* "Alice" }',
    ).collect()
    assert [r.x for r in rows] == ["Alice"]


def test_bind_subtraction(quads):
    rows = sparql_select(
        quads,
        PFX + "SELECT ?d WHERE { ?who p:age ?age . BIND((?age - 2) AS ?d) }",
    ).collect()
    assert [r.d for r in rows] == [3.0]


def test_property_path_inverse_and_optional(quads):
    # ^p inverse: who is known BY bob (i.e. alice knows bob)
    rows = sparql_select(
        quads, PFX + "SELECT ?x WHERE { p:bob ^p:knows ?x }"
    ).collect()
    assert [r.x for r in rows] == ["p:alice"]
    # p? zero-or-one: bob plus bob's direct acquaintances
    rows = sparql_select(
        quads, PFX + "SELECT ?x WHERE { p:bob p:knows? ?x } ORDER BY ?x"
    ).collect()
    assert [r.x for r in rows] == ["p:bob", "p:carol"]
    # symmetric closure (p|^p)*: alice's whole knows-component
    rows = sparql_select(
        quads,
        PFX + "SELECT ?x WHERE { p:carol (p:knows|^p:knows)* ?x } ORDER BY ?x",
    ).collect()
    assert [r.x for r in rows] == ["p:alice", "p:bob", "p:carol"]
    # inverse inside a sequence: alice knows bob; bob known-by alice
    rows = sparql_select(
        quads,
        PFX + "SELECT ?x WHERE { p:alice p:knows/^p:knows ?x }",
    ).collect()
    assert [r.x for r in rows] == ["p:alice"]


def test_union_subject_position_binding_under_track_types(quads):
    """A UNION branch that binds the shared variable in SUBJECT position
    must still join downstream patterns under keep_term_types: the branch
    emits ?v__type='iri' instead of a null-filled column that the join's
    kind check would treat as a mismatch."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?v ?z WHERE {
          { ?x p:knows ?v } UNION { ?v schema:name ?y }
          ?z p:knows ?v .
        } ORDER BY ?v ?z
        """,
        keep_term_types=True,
    ).collect()
    # branch 1 (object position): v∈{bob,carol}; branch 2 (subject
    # position): v∈{alice,bob,carol}; join keeps v with an inbound knows
    assert [(r.v, r.z) for r in rows] == [
        ("p:bob", "p:alice"),
        ("p:bob", "p:alice"),
        ("p:carol", "p:bob"),
        ("p:carol", "p:bob"),
    ]


def test_minus_unbound_shared_var_compatibility(quads):
    """MINUS compatibility semantics: a MINUS solution with an UNBOUND
    shared variable is compatible with any binding of it, so it still
    removes left solutions it agrees with on the bound overlap (SPARQL
    1.1 §8.3; a plain equi anti-join would keep them)."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?name WHERE {
          ?who schema:name ?name .
          MINUS { ?who a c:Person . OPTIONAL { ?who p:age ?name } }
        }
        """,
    ).collect()
    # minus solutions: (alice, NULL), (bob, NULL) — ?name unbound.
    # Unbound ?name is compatible with "Alice"/"Bob", overlap on ?who
    # ⇒ alice and bob are removed; carol (a Robot) survives.
    assert [(r.who, r.name) for r in rows] == [("p:carol", "Carol")]


def test_minus_all_bound_still_equi(quads):
    """The common all-bound MINUS case is unchanged by the compatibility
    upgrade (it runs through the equi anti-join fast path)."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who WHERE {
          ?who schema:name ?name .
          MINUS { ?who schema:email ?e }
        } ORDER BY ?who
        """,
    ).collect()
    assert [r.who for r in rows] == ["p:bob", "p:carol"]


def test_fn_projection_with_group_by_is_syntax_error(quads):
    """(fn(...) AS ?x) mixed with GROUP BY or aggregates is rejected at
    parse/compile time (SyntaxError → HTTP 400), not an IndexError deep
    in the grouped projection (round-3 ADVICE, sparql.py)."""
    with pytest.raises(SyntaxError, match="GROUP BY"):
        sparql_select(
            quads,
            PFX
            + """
            PREFIX personal: <urn:personal:>
            SELECT (personal:duration(?a, ?b) AS ?d) WHERE {
              ?x <urn:p:start> ?a . ?x <urn:p:end> ?b .
            } GROUP BY ?x
            """,
        )
    with pytest.raises(SyntaxError, match="aggregates"):
        sparql_select(
            quads,
            PFX
            + """
            PREFIX personal: <urn:personal:>
            SELECT (personal:duration(?a, ?b) AS ?d) (COUNT(?x) AS ?n) WHERE {
              ?x <urn:p:start> ?a . ?x <urn:p:end> ?b .
            }
            """,
        )


def test_grouped_sequence_closure(quads):
    """(p1/p2)* and (p1/p2)+ — grouped sequences compose to one edge
    relation before the closure loop (round-3 VERDICT item 3)."""
    # (knows/knows) edges: alice->carol only; * adds the reflexive self
    rows = sparql_select(
        quads, PFX + "SELECT ?x WHERE { p:alice (p:knows/p:knows)* ?x } ORDER BY ?x"
    ).collect()
    assert [r.x for r in rows] == ["p:alice", "p:carol"]
    # + requires at least one composed hop
    rows = sparql_select(
        quads, PFX + "SELECT ?x WHERE { p:alice (p:knows/p:knows)+ ?x }"
    ).collect()
    assert [r.x for r in rows] == ["p:carol"]
    # inverse members inside the grouped sequence
    rows = sparql_select(
        quads, PFX + "SELECT ?x WHERE { p:carol (^p:knows/^p:knows)+ ?x }"
    ).collect()
    assert [r.x for r in rows] == ["p:alice"]
    # nested closure inside the group: knows then optionally one more
    rows = sparql_select(
        quads, PFX + "SELECT ?x WHERE { p:alice (p:knows/p:knows?)+ ?x } ORDER BY ?x"
    ).collect()
    assert [r.x for r in rows] == ["p:bob", "p:carol"]


def test_negated_property_sets(quads):
    """!p and !(p1|^p2) (SPARQL 1.1 §9.1): forward members exclude forward
    edges, ^-members exclude REVERSED edges."""
    rows = sparql_select(
        quads, PFX + "SELECT ?v WHERE { p:alice !p:knows ?v } ORDER BY ?v"
    ).collect()
    assert [r.v for r in rows] == ["Alice", "a@x.y", "c:Person"]
    # inverse member: reversed edges into alice over non-knows predicates
    rows = sparql_select(
        quads, PFX + "SELECT ?v WHERE { ?v !(^p:knows) p:alice } ORDER BY ?v"
    ).collect()
    assert [r.v for r in rows] == ["Alice", "a@x.y", "c:Person"]
    # parenthesized multi-member set
    rows = sparql_select(
        quads,
        PFX + "SELECT ?v WHERE { p:alice !(p:knows|schema:email|<%s>) ?v } ORDER BY ?v"
        % vocab.RDF_TYPE,
    ).collect()
    assert [r.v for r in rows] == ["Alice"]


def test_group_concat_and_having(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?type (GROUP_CONCAT(?name ; SEPARATOR = ", ") AS ?names)
               (COUNT(?who) AS ?n)
        WHERE { ?who a ?type ; schema:name ?name . }
        GROUP BY ?type
        """,
    ).collect()
    got = {r.type: (r.names, r.n) for r in rows}
    # GROUP_CONCAT output is sorted for determinism
    assert got["c:Person"] == ("Alice, Bob", 2)
    assert got["c:Robot"] == ("Carol", 1)


def test_group_concat_default_separator_and_distinct(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT (GROUP_CONCAT(DISTINCT ?type) AS ?types) WHERE { ?who a ?type . }
        """,
    ).collect()
    assert rows[0].types == "c:Person c:Robot"


def test_having_filters_groups(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?type (COUNT(?who) AS ?n) WHERE { ?who a ?type . }
        GROUP BY ?type
        HAVING (COUNT(?who) > 1)
        """,
    ).collect()
    assert [(r.type, r.n) for r in rows] == [("c:Person", 2)]

    # var comparison + multiple constraints
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?type (COUNT(?who) AS ?n) WHERE { ?who a ?type . }
        GROUP BY ?type
        HAVING (COUNT(?who) >= 1) (?type != "c:Person")
        """,
    ).collect()
    assert [(r.type, r.n) for r in rows] == [("c:Robot", 1)]


def test_having_without_group_raises(quads):
    with pytest.raises(SyntaxError):
        sparql_select(
            quads,
            PFX + 'SELECT ?who WHERE { ?who a ?t . } HAVING (COUNT(?who) > 1)',
        )


def test_string_and_numeric_builtins(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?name ?up ?sub ?rep ?before ?after ?joined WHERE {
          ?who schema:name ?name .
          BIND(UCASE(?name) AS ?up)
          BIND(SUBSTR(?name, 2, 3) AS ?sub)
          BIND(REPLACE(?name, "a", "_") AS ?rep)
          BIND(STRBEFORE(?name, "o") AS ?before)
          BIND(STRAFTER(?name, "o") AS ?after)
          BIND(CONCAT(?name, "!", ?up) AS ?joined)
          FILTER(?name = "Carol")
        }
        """,
    ).collect()
    (r,) = rows
    assert (r.up, r.sub, r.rep) == ("CAROL", "aro", "C_rol")
    assert (r.before, r.after) == ("Car", "l")
    assert r.joined == "Carol!CAROL"


def test_strbefore_absent_needle_is_empty(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?name ?b WHERE {
          ?who schema:name ?name . BIND(STRBEFORE(?name, "zzz") AS ?b)
          FILTER(?name = "Bob")
        }
        """,
    ).collect()
    assert rows[0].b == ""


def test_if_coalesce_and_numeric_builtins(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?who ?cat ?age2 WHERE {
          ?who schema:name ?name .
          OPTIONAL { ?who p:age ?age }
          BIND(IF(STRLEN(?name) > 3, "long", "short") AS ?cat)
          BIND(COALESCE(?age, "0") AS ?age2)
        }
        ORDER BY ?who
        """,
    ).collect()
    got = {r.who: (r.cat, r.age2) for r in rows}
    assert got["p:alice"] == ("long", "0")
    assert got["p:bob"] == ("short", "0")
    assert got["p:carol"] == ("long", "5")

    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?v WHERE {
          ?who p:age ?age . BIND(FLOOR(?age / 2) AS ?v)
        }
        """,
    ).collect()
    assert rows[0].v == 2.0


def test_round_ties_toward_positive_infinity(quads):
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?r ?neg WHERE {
          ?who p:age ?age .
          BIND(ROUND(?age / 2) AS ?r)
          BIND(ROUND(0 - ?age / 2) AS ?neg)
        }
        """,
    ).collect()
    # age = 5: 2.5 rounds to 3; -2.5 rounds to -2 (fn:round ties -> +inf)
    assert rows[0].r == 3.0 and rows[0].neg == -2.0


def test_path_multiset_cardinality(quads):
    """SPARQL 1.1 §18.4: NPS/alternation/sequence are multiset-valued — a
    (s, o) pair connected by two distinct qualifying predicates yields TWO
    solutions; only the closure forms (*/+/?) are distinct (ALP). A blanket
    dropDuplicates over path solutions undercounts aggregates (round-4
    review finding)."""
    extra = make_quads(
        quads.sparkSession,
        [
            lit_q("p:dave", "schema:name", "Dave", "g:c"),
            lit_q("p:dave", "p:label", "Dave", "g:c"),
        ],
    )
    data = quads.unionByName(extra)
    # NPS: both schema:name and p:label connect (p:dave, "Dave")
    rows = sparql_select(
        data,
        PFX + "SELECT (COUNT(*) AS ?n) WHERE { p:dave !p:knows ?v }",
    ).collect()
    assert rows[0].n == 2
    # alternation keeps both branches' solutions too
    rows = sparql_select(
        data,
        PFX + "SELECT (COUNT(*) AS ?n) WHERE { p:dave (schema:name|p:label) ?v }",
    ).collect()
    assert rows[0].n == 2
    # closure stays distinct: two edges, still one (s, o) pair per target
    rows = sparql_select(
        data,
        PFX + "SELECT (COUNT(*) AS ?n) WHERE { p:alice p:knows+ ?v }",
    ).collect()
    assert rows[0].n == 2  # bob, carol — each once


def test_round_ulp_below_half_rounds_down(quads):
    """fn:round of the double one ulp below 0.5 is 0 — floor(x + 0.5)
    would round it UP because x + 0.5 rounds to exactly 1.0 in IEEE
    double (round-4 review finding)."""
    rows = sparql_select(
        quads,
        PFX
        + """
        SELECT ?r WHERE {
          ?who p:age ?age .
          BIND(ROUND(0.49999999999999994 * (?age / ?age)) AS ?r)
        } LIMIT 1
        """,
    ).collect()
    assert rows[0].r == 0.0


# --- review-fix regressions: DISTINCT aggregates, separator escapes, NPS kinds


def test_sum_avg_distinct_values(spark):
    from thymeflow_back_spark.rdf.model import make_quads

    q = make_quads(
        spark,
        [
            ("p:a", "p:v", "1", "literal", "http://www.w3.org/2001/XMLSchema#integer", None, "g:x"),
            ("p:b", "p:v", "1", "literal", "http://www.w3.org/2001/XMLSchema#integer", None, "g:x"),
            ("p:c", "p:v", "2", "literal", "http://www.w3.org/2001/XMLSchema#integer", None, "g:x"),
        ],
    )
    rows = sparql_select(
        q,
        'PREFIX p: <p:> SELECT (SUM(DISTINCT ?v) AS ?s) (AVG(DISTINCT ?v) AS ?a) '
        "(SUM(?v) AS ?t) WHERE { ?x p:v ?v }",
    )
    r = rows.collect()[0]
    assert r["s"] == 3.0  # was 4.0 when DISTINCT was silently ignored
    assert r["a"] == 1.5
    assert r["t"] == 4.0


def test_group_concat_separator_unescaped(quads):
    rows = sparql_select(
        quads,
        PFX + 'SELECT (GROUP_CONCAT(?n; SEPARATOR="\\\\") AS ?all) '
        "WHERE { ?x schema:name ?n }",
    )
    # SEPARATOR="\\" is ONE backslash after unescaping
    assert rows.collect()[0]["all"] == "Alice\\Bob\\Carol"


def test_negated_path_literal_term_kinds(quads):
    """A literal reached through !p must carry literal term-kind metadata
    under keep_term_types (it used to fall back to 'iri')."""
    rows = sparql_select(
        quads,
        PFX + "SELECT ?o WHERE { p:carol !p:age ?o }",
        keep_term_types=True,
    ).collect()
    by_val = {r["o"]: r for r in rows}
    assert by_val["Carol"]["o__type"] == "literal"
    assert by_val["c:Robot"]["o__type"] == "iri"


def test_star_bound_endpoint_uses_bfs_not_pair_closure(quads, monkeypatch):
    """A `p*` pattern with a bound endpoint (syntactic constant OR a
    pre-bound variable — the PrimaryFacetEnricher.scala:20-27 prepared
    query) must compile through single-source BFS (reachable_nodes), never
    the all-pairs transitive_closure: the pair relation is O(component²)
    and the round-8 verdict's one flagged scale surface."""
    import thymeflow_back_spark.plans.sparql as S

    def boom(*a, **k):
        raise AssertionError("transitive_closure must not run for bound-endpoint closures")

    monkeypatch.setattr(S, "transitive_closure", boom)
    # syntactic constant object
    rows = sparql_select(
        quads, PFX + "SELECT ?f WHERE { ?f p:knows* p:carol }"
    ).collect()
    assert {r.f for r in rows} == {"p:alice", "p:bob", "p:carol"}
    # pre-bound variable (setBinding parity)
    rows = sparql_select(
        quads,
        PFX + "SELECT ?f WHERE { ?f p:knows* ?start }",
        bindings={"start": "p:carol"},
    ).collect()
    assert {r.f for r in rows} == {"p:alice", "p:bob", "p:carol"}
    # bound subject, forward direction
    rows = sparql_select(
        quads, PFX + "SELECT ?o WHERE { p:alice p:knows* ?o }"
    ).collect()
    assert {r.o for r in rows} == {"p:alice", "p:bob", "p:carol"}
    # plus: no zero-length row for the start
    rows = sparql_select(
        quads, PFX + "SELECT ?o WHERE { p:alice p:knows+ ?o }"
    ).collect()
    assert {r.o for r in rows} == {"p:bob", "p:carol"}


def test_symmetric_star_uses_components_not_pair_closure(quads, monkeypatch):
    """`(p|^p)*` (undirected connectivity) must compile through connected
    components + ONE same-component join, not the iterated pair closure —
    identical output, linear intermediate state."""
    import thymeflow_back_spark.plans.sparql as S

    def boom(*a, **k):
        raise AssertionError("transitive_closure must not run for symmetric closures")

    monkeypatch.setattr(S, "transitive_closure", boom)
    rows = sparql_select(
        quads,
        PFX + "SELECT ?a ?b WHERE { ?a (p:knows|^p:knows)* ?b } ORDER BY ?a ?b",
    ).collect()
    got = {(r.a, r.b) for r in rows}
    # the knows chain alice-bob-carol is one undirected component: all 9
    # ordered pairs over it must appear
    people = {"p:alice", "p:bob", "p:carol"}
    assert {(a, b) for a in people for b in people} <= got
    # zero-length universe: any term reaches itself
    assert ("Alice", "Alice") in got
    # and nothing crosses into a different component
    assert ("p:alice", "Alice") not in got


def test_unbound_asymmetric_star_matches_pair_closure(quads):
    """The general branch (both endpoints variable, directed path) still
    goes through transitive_closure — pin its output against the
    rewritten forms' building blocks by checking directed semantics
    survive: knows* is NOT symmetric."""
    rows = sparql_select(
        quads,
        PFX + "SELECT ?a ?b WHERE { ?a p:knows* ?b }",
    ).collect()
    got = {(r.a, r.b) for r in rows}
    assert ("p:alice", "p:carol") in got  # 2 hops forward
    assert ("p:carol", "p:alice") not in got  # never backward


# --- term kinds and escaping in SELECT results --------------------------------


def _bindings(df) -> list[dict]:
    import json

    from thymeflow_back_spark.api.service import select_json

    return json.loads(select_json(df.toPandas()))["results"]["bindings"]


def test_values_data_keeps_term_kinds(quads):
    """VALUES cells carry their term's kind: a literal stays a literal."""
    rows = _bindings(sparql_select(
        quads, 'SELECT ?x WHERE { VALUES ?x { "hello" <urn:z> } }', keep_term_types=True
    ))
    assert sorted(rows, key=lambda b: b["x"]["value"]) == [
        {"x": {"type": "literal", "value": "hello"}},
        {"x": {"type": "uri", "value": "urn:z"}},
    ]


def test_group_by_key_keeps_term_kind(quads):
    """A GROUP BY key bound in object position serializes as the literal
    it is, not as an IRI."""
    rows = _bindings(sparql_select(
        quads,
        PFX + "SELECT ?n (COUNT(?s) AS ?c) WHERE { ?s schema:name ?n } GROUP BY ?n",
        keep_term_types=True,
    ))
    assert {b["n"]["value"] for b in rows} == {"Alice", "Bob", "Carol"}
    assert all(b["n"]["type"] == "literal" for b in rows)


def test_having_string_constant_is_unescaped(quads):
    extra = make_quads(quads.sparkSession, [lit_q("p:dan", "schema:name", "O'Hara", "g:c")])
    rows = sparql_select(
        quads.unionByName(extra),
        PFX + "SELECT ?n (COUNT(?s) AS ?c) WHERE { ?s schema:name ?n } "
        "GROUP BY ?n HAVING (?n = \"O\\'Hara\")",
    ).collect()
    assert [(r.n, r.c) for r in rows] == [("O'Hara", 1)]


# constants of the query text travel as parameters: any quote, comment or
# escape sequence round-trips, and none changes the compiled statement
_NASTY = ["'", '"', "\\", "`", "--", "/*", "*/", ";", "{", "}", ":c0", "é", "日本", "😀", "a", "x' OR '1'='1"]
_literals = st.lists(st.sampled_from(_NASTY + [" ", "\n"]), min_size=1, max_size=6).map("".join)
_iri_parts = st.lists(st.sampled_from(_NASTY), min_size=1, max_size=4).map(
    lambda parts: "urn:x:" + "".join(parts).replace(" ", "")
)


def _sparql_string(value: str) -> str:
    return '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(lit=_literals, iri=_iri_parts)
def test_constants_round_trip_and_never_shape_the_statement(spark, lit, iri):
    from thymeflow_back_spark.plans.sparql import explain_sparql

    p, g = "urn:p", "urn:g"
    store = make_quads(spark, [
        (iri, p, lit, "literal", XSD_S, None, g),
        ("urn:safe", p, "safe", "literal", XSD_S, None, g),
    ])
    assert [r.o for r in sparql_select(store, f"SELECT ?o WHERE {{ <{iri}> <{p}> ?o }}").collect()] == [lit]
    match = f"SELECT ?s WHERE {{ ?s <{p}> {_sparql_string(lit)} }}"
    assert [r.s for r in sparql_select(store, match).collect()] == [iri]
    assert sparql_ask(store, f"ASK {{ <{iri}> <{p}> {_sparql_string(lit)} }}")
    built = sparql_construct(store, f"CONSTRUCT {{ ?s <urn:q> ?o }} WHERE {{ ?s <{p}> ?o . FILTER(?o = {_sparql_string(lit)}) }}")
    assert [(r.subject, r.object_value, r.object_type) for r in built.collect()] == [(iri, lit, "literal")]
    diff = sparql_update_diff(store, f"DELETE WHERE {{ <{iri}> <{p}> {_sparql_string(lit)} }}")
    # a DELETE WHERE template is graphless: apply_update expands it to every graph
    assert [(r.subject, r.object_value, r.graph) for r in diff.removed.collect()] == [(iri, lit, None)]

    def statement(value: str) -> str:
        return explain_sparql(store, match.replace(_sparql_string(lit), _sparql_string(value))).split("\n-- ")[0]

    assert statement(lit) == statement("safe")


# --- closures above the driver cap ----------------------------------------------


def test_closures_above_the_cap_run_distributed(quads, monkeypatch):
    """With the driver cap at 0 every closure takes the distributed route
    (bound endpoint: reachable_nodes; symmetric: connected components;
    otherwise: transitive_closure) and answers exactly as the driver
    route does."""
    import thymeflow_back_spark.plans.sparql as S

    queries = [
        PFX + "SELECT ?f WHERE { ?f p:knows* p:carol }",
        PFX + "SELECT ?o WHERE { p:alice p:knows+ ?o }",
        PFX + "SELECT ?a ?b WHERE { ?a (p:knows|^p:knows)* ?b }",
        PFX + "SELECT ?a ?b WHERE { ?a p:knows+ ?b }",
        PFX + "SELECT ?x WHERE { p:alice (p:knows/p:knows?)+ ?x }",
        # two distributed closures in one statement, and one nested in
        # another: each result stays an input until the statement is analysed
        PFX + "SELECT ?a ?c WHERE { ?a p:knows+ ?b . ?b (p:knows|^p:knows)+ ?c }",
        PFX + "SELECT ?a ?b WHERE { ?a (p:knows+/p:knows)+ ?b }",
    ]

    def answers():
        return [sorted(map(tuple, sparql_select(quads, q).collect())) for q in queries]

    local = answers()
    calls = []
    for name in ("reachable_nodes", "connected_components_star", "transitive_closure"):
        real = getattr(S, name)
        monkeypatch.setattr(S, name, lambda *a, _real=real, _name=name, **k: calls.append(_name) or _real(*a, **k))
    monkeypatch.setattr(S, "LOCAL_CLOSURE_MAX_ROWS", 0)
    assert answers() == local
    assert set(calls) == {"reachable_nodes", "connected_components_star", "transitive_closure"}


def test_closure_pairs_above_the_cap_run_distributed(quads, monkeypatch):
    """The cap bounds the rows the driver route would inline, not only the
    edge rows: two knows edges fit a cap of 2, but their all-pairs closure
    has three pairs, so it runs distributed; a bound endpoint (two reached
    nodes) stays on the driver."""
    import thymeflow_back_spark.plans.sparql as S

    calls = []
    real = S.transitive_closure
    monkeypatch.setattr(S, "transitive_closure", lambda *a, **k: calls.append(1) or real(*a, **k))
    monkeypatch.setattr(S, "LOCAL_CLOSURE_MAX_ROWS", 2)
    rows = sparql_select(quads, PFX + "SELECT ?a ?b WHERE { ?a p:knows+ ?b }").collect()
    assert sorted(map(tuple, rows)) == [("p:alice", "p:bob"), ("p:alice", "p:carol"), ("p:bob", "p:carol")]
    assert calls == [1]
    rows = sparql_select(quads, PFX + "SELECT ?x WHERE { p:alice p:knows+ ?x }").collect()
    assert sorted(r.x for r in rows) == ["p:bob", "p:carol"]
    assert calls == [1]


def test_compiling_keeps_a_cached_store_cached(quads):
    """A statement reads the store through a temp view for its one
    ``spark.sql`` call; dropping that view afterwards must not uncache a
    pinned store with the same plan, and leaves no view behind."""
    spark = quads.sparkSession
    store = quads.cache()
    try:
        store.count()
        before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        rows = sparql_select(store, PFX + "SELECT ?o WHERE { p:alice p:knows+ ?o }").collect()
        assert sorted(r.o for r in rows) == ["p:bob", "p:carol"]
        assert store.storageLevel.useMemory
        assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == before
    finally:
        store.unpersist()
