"""RDF-layer queries: BGP joins, OPTIONAL, IFP identity inference, and
sameAs-closure connected components — the reference's core query shapes
(SURVEY.md §2.3, §2.11) run over quads built from the synthetic tables
(rdf/tpch.py) and oracle-checked against the equivalent relational SQL.

The oracle deliberately takes the DIRECT relational path (joins over
customer/nation/region), while Spark goes through quad-ification + the
SPARQL compiler of plans/sparql.py, the one code path that matches triple
patterns — matching results prove the RDF layer preserves semantics, not
just that two identical plans agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.closure import connected_components
from ..plans.sparql import sparql_construct, sparql_describe, sparql_select
from ..rdf import tpch, vocab
from .catalog import query

_PB = tpch.PHONE_BUCKETS


def _phone_pairs(quads: DataFrame, op: str) -> DataFrame:
    """IFP candidate pairs: two agents sharing a phone value (reference
    InverseFunctionalPropertyInferencer.scala:37-53), the two ends related
    by ``op`` (``<`` for one pair per unordered couple, ``!=`` for both
    directions). Columns ``a_id``, ``b_id`` and the shared value ``v``."""
    return sparql_select(
        quads,
        f"SELECT ?a_id ?b_id ?v WHERE {{ ?a_id <{tpch.PHONE}> ?v . "
        f"?b_id <{tpch.PHONE}> ?v . FILTER(?a_id {op} ?b_id) }}",
    )


def _ifp_sameas(quads: DataFrame, op: str) -> DataFrame:
    """The distinct phone pairs as ``personal:sameAs`` quads in ``g:ifp``."""
    pairs = _phone_pairs(quads, op).select("a_id", "b_id").dropDuplicates()
    return pairs.select(
        F.col("a_id").alias("subject"),
        F.lit(vocab.SAME_AS).alias("predicate"),
        F.col("b_id").alias("object_value"),
        F.lit("iri").alias("object_type"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit("g:ifp").alias("graph"),
    )


# --- Q: BGP with OPTIONAL (2-hop join + left join over quads) ----------------


@query(
    "q_rdf_bgp_region",
    oracle=f"""
    SELECT n_name,
           COUNT(*) AS n_customers,
           COUNT(CASE WHEN c_acctbal > {tpch.BIG_SPENDER_MIN_ACCTBAL} THEN 1 END) AS n_big_spenders
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="SPARQL-TEXT front door (SparqlService.scala:38-74 parity): the query "
    "arrives as a SPARQL string, is parsed by plans/sparql.py and compiled "
    "onto the quad store — BGP joins + OPTIONAL + GROUP BY/COUNT/ORDER BY "
    "(reference AgentMatchEnricher.scala:95-111 shape); oracle is the direct "
    "relational join, proving text→algebra→DataFrame preserves semantics.",
)
def q_rdf_bgp_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch.tpch_quads(spark, sf_dir)
    return sparql_select(
        quads,
        f"""
        PREFIX p: <p:>
        PREFIX schema: <schema:>
        SELECT ?n_name (COUNT(*) AS ?n_customers) (COUNT(?bs) AS ?n_big_spenders)
        WHERE {{
          ?c p:inNation ?n .
          ?n schema:name ?n_name .
          ?n p:inRegion ?r .
          ?r schema:name "EUROPE" .
          OPTIONAL {{ ?c p:bigSpender ?bs }}
        }}
        GROUP BY ?n_name
        ORDER BY ?n_name
        """,
    )


# --- Q: inverse-functional-property identity inference -----------------------


@query(
    "q_rdf_ifp_sameas",
    oracle=f"""
    SELECT 'c:' || a.c_custkey AS a_id,
           'c:' || b.c_custkey AS b_id,
           'phone:' || (a.c_custkey % {_PB}) AS shared_value
    FROM customer a
    JOIN customer b
      ON a.c_custkey % {_PB} = b.c_custkey % {_PB}
     AND 'c:' || a.c_custkey < 'c:' || b.c_custkey
    ORDER BY a_id, b_id
    """,
    doc="IFP identity inference: agents sharing an inverse-functional "
    "property value (phone) become sameAs pairs — the self-join of "
    "quads[pred=phone] on object value (reference "
    "InverseFunctionalPropertyInferencer.scala:37-53), compiled from SPARQL "
    "text.",
)
def q_rdf_ifp_sameas(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _phone_pairs(tpch.tpch_quads(spark, sf_dir), "<")
    return pairs.select("a_id", "b_id", F.col("v").alias("shared_value")).orderBy("a_id", "b_id")


# --- Q: sameAs* closure (connected components) -------------------------------


@query(
    "q_rdf_sameas_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT 'c:' || a.c_custkey AS a_id, 'c:' || b.c_custkey AS b_id
      FROM customer a
      JOIN customer b
        ON a.c_custkey % {_PB} = b.c_custkey % {_PB}
       AND 'c:' || a.c_custkey < 'c:' || b.c_custkey
    ),
    edges AS (
      SELECT a_id AS s, b_id AS d FROM pairs
      UNION
      SELECT b_id AS s, a_id AS d FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, s FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (SELECT s AS node, MIN(d) AS component FROM reach GROUP BY s),
    sizes AS (SELECT component, COUNT(*) AS component_size FROM comp GROUP BY component)
    SELECT component_size, COUNT(*) AS n_components
    FROM sizes GROUP BY component_size
    ORDER BY component_size
    """,
    doc="sameAs* reflexive-transitive closure → equivalence classes: "
    "iterative min-label propagation (the Spark form of `personal:sameAs*` "
    "property paths + ConnectedComponents.scala:9-36); output is the "
    "component-size histogram, oracle via recursive CTE.",
)
def q_rdf_sameas_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _phone_pairs(tpch.tpch_quads(spark, sf_dir), "<").select("a_id", "b_id")
    comps = connected_components(pairs, src="a_id", dst="b_id")
    sizes = comps.groupBy("component").agg(F.count("*").alias("component_size"))
    return (
        sizes.groupBy("component_size")
        .agg(F.count("*").alias("n_components"))
        .orderBy("component_size")
    )


# --- Q: SPARQL CONSTRUCT through the text front-end ---------------------------

_XSD_S = "http://www.w3.org/2001/XMLSchema#string"


@query(
    "q_rdf_construct_euro",
    oracle=f"""
    WITH euro AS (
      SELECT c.c_custkey, c.c_name
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT 'c:' || c_custkey AS subject, 'p:label' AS predicate,
           c_name AS object_value, 'literal' AS object_type,
           '{_XSD_S}' AS object_datatype,
           CAST(NULL AS VARCHAR) AS object_lang,
           'urn:graph:construct' AS graph
    FROM euro
    UNION ALL
    SELECT 'c:' || c_custkey, 'rdf:type', 'p:EuroCustomer', 'iri',
           NULL, NULL, 'urn:graph:construct'
    FROM euro
    ORDER BY subject, predicate
    """,
    doc="SPARQL CONSTRUCT compiled from text (template instantiation over "
    "BGP solutions, object term kinds carried through hidden type columns "
    "— reference SparqlService.scala:100-143 graph-query dispatch).",
)
def q_rdf_construct_euro(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch.tpch_quads(spark, sf_dir)
    return sparql_construct(
        quads,
        """
        PREFIX p: <p:>
        PREFIX schema: <schema:>
        CONSTRUCT { ?c <p:label> ?name . ?c <rdf:type> <p:EuroCustomer> }
        WHERE {
          ?c p:inNation ?n .
          ?n p:inRegion ?r .
          ?r schema:name "EUROPE" .
          ?c schema:name ?name
        }
        """,
    )


@query(
    "q_rdf_describe_nations",
    oracle=f"""
    WITH ns AS (SELECT * FROM nation WHERE n_regionkey = 1)
    SELECT 'n:' || n_nationkey AS subject, 'rdf:type' AS predicate,
           'schema:Nation' AS object_value, 'iri' AS object_type,
           CAST(NULL AS VARCHAR) AS object_datatype,
           CAST(NULL AS VARCHAR) AS object_lang, 'g:tpch' AS graph
    FROM ns
    UNION ALL
    SELECT 'n:' || n_nationkey, 'schema:name', n_name, 'literal',
           '{_XSD_S}', NULL, 'g:tpch'
    FROM ns
    UNION ALL
    SELECT 'n:' || n_nationkey, 'p:inRegion', 'r:' || n_regionkey, 'iri',
           NULL, NULL, 'g:tpch'
    FROM ns
    ORDER BY subject, predicate
    """,
    doc="SPARQL DESCRIBE from text: WHERE-bound resources' outgoing "
    "statements via semi-join on subject (RDF4J describe semantics, "
    "SparqlService.scala graph-query dispatch).",
)
def q_rdf_describe_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch.tpch_quads(spark, sf_dir)
    return sparql_describe(
        quads,
        """
        PREFIX p: <p:>
        DESCRIBE ?n WHERE { ?n p:inRegion <r:1> }
        """,
    )


# --- Q: RDFS forward chaining (subclass/domain closure) -----------------------

_RDFS = "http://www.w3.org/2000/01/rdf-schema#"


@query(
    "q_rdf_rdfs_closure",
    oracle="""
    WITH base AS (
      SELECT 'c:' || c_custkey AS entity, 'schema:Customer' AS type FROM customer
      UNION ALL
      SELECT 'n:' || n_nationkey, 'schema:Nation' FROM nation
      UNION ALL
      SELECT 'r:' || r_regionkey, 'schema:Region' FROM region
    ),
    -- the ontology is a fixed literal: its transitive closure is inlined
    closure(sub, super) AS (
      VALUES ('schema:Customer', 'personal:Agent'),
             ('schema:Customer', 'schema:Thing'),
             ('personal:Agent',  'schema:Thing'),
             ('schema:Nation',   'schema:Place'),
             ('schema:Nation',   'schema:Thing'),
             ('schema:Place',    'schema:Thing')
    ),
    inferred AS (
      SELECT b.entity, c.super AS type FROM base b JOIN closure c ON b.type = c.sub
    )
    SELECT entity, type FROM (
      SELECT * FROM base UNION SELECT * FROM inferred
    ) ORDER BY entity, type
    """,
    doc="RDFS forward chaining over the quad store: rdfs9/11 subclass "
    "closure materialized by the semi-naive inferencer "
    "(enrichers/rdfs.py; reference ForwardChainingRDFSInferencer via "
    "RepositoryFactory.scala:167-173). The oracle inlines the ontology's "
    "transitive closure and checks the full (entity, type) relation.",
)
def q_rdf_rdfs_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..enrichers.rdfs import SUB_CLASS_OF, rdfs_enricher
    from ..rdf.model import QUAD_SCHEMA
    from ..rdf.store import Diff, StatementStore

    # normalize the tpch mapping's shorthand 'rdf:type' to the full RDF IRI
    # the inferencer's rules match on
    quads = tpch.tpch_quads(spark, sf_dir).withColumn(
        "predicate",
        F.when(F.col("predicate") == tpch.TYPE, F.lit(vocab.RDF_TYPE)).otherwise(
            F.col("predicate")
        ),
    )
    onto_rows = [
        ("schema:Customer", SUB_CLASS_OF, "personal:Agent"),
        ("personal:Agent", SUB_CLASS_OF, "schema:Thing"),
        ("schema:Nation", SUB_CLASS_OF, "schema:Place"),
        ("schema:Place", SUB_CLASS_OF, "schema:Thing"),
    ]
    onto = spark.createDataFrame(
        [(s, p, o, "iri", None, None, "g:ontology") for s, p, o in onto_rows],
        QUAD_SCHEMA,
    )
    store = StatementStore(quads.unionByName(onto))
    diff = rdfs_enricher(store, Diff(added=quads, removed=quads.limit(0)))
    all_types = quads.unionByName(diff.added).filter(
        F.col("predicate") == vocab.RDF_TYPE
    ).select(F.col("subject").alias("entity"), F.col("object_value").alias("type"))
    return all_types.dropDuplicates().orderBy("entity", "type")


# --- Q: Simple-OWL forward chaining (inverseOf + transitive + axioms) ---------

_OWL = "http://www.w3.org/2002/07/owl#"


@query(
    "q_owl_closure",
    oracle=f"""
    SELECT * FROM (
      SELECT 'n:' || c_nationkey AS subject,
             'p:hasCitizen' AS predicate,
             'c:' || c_custkey AS object_value
      FROM customer
      UNION ALL
      SELECT 'c:' || c_custkey, 'p:locatedIn', 'r:' || n_regionkey
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT 'p:hasCitizen', '{_OWL}inverseOf', 'p:inNation'
    )
    ORDER BY subject, predicate, object_value
    """,
    doc="Simple-OWL forward chaining to fixpoint (enrichers/owl.py; reference "
    "ForwardChainingSimpleOWLInferencerConnection.scala:23-170): "
    "p:inNation owl:inverseOf p:hasCitizen derives the inverse edges, "
    "p:locatedIn (customer→nation ∪ nation→region) declared "
    "owl:TransitiveProperty derives the customer→region chain, and the "
    "owl:inverseOf symmetry axiom derives the flipped declaration. The "
    "oracle inlines each rule's one-step relational consequence — the "
    "fixpoint adds nothing further on this shape, so the full derived set "
    "is checkable.",
)
def q_owl_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..enrichers.owl import (
        INVERSE_OF,
        TRANSITIVE_PROPERTY,
        owl_enricher,
    )
    from ..operators.cachereg import pin
    from ..rdf.model import QUAD_SCHEMA
    from ..rdf.store import Diff, StatementStore

    base = tpch.tpch_quads(spark, sf_dir)
    located = base.filter(
        F.col("predicate").isin(tpch.IN_NATION, tpch.IN_REGION)
    ).withColumn("predicate", F.lit("p:locatedIn"))
    schema_df = spark.createDataFrame(
        [
            ("p:locatedIn", vocab.RDF_TYPE, TRANSITIVE_PROPERTY, "iri", None, None, "g:onto"),
            ("p:inNation", INVERSE_OF, "p:hasCitizen", "iri", None, None, "g:onto"),
        ],
        QUAD_SCHEMA,
    )
    # the quad relation feeds the enricher's known projection, the
    # schema-seed branches AND the final already-known anti-join — pin it
    # so the TPC-H quad build runs once, not once per consumer
    quads = pin(base.unionByName(located).unionByName(schema_df))
    store = StatementStore(quads)
    diff = owl_enricher(store, Diff(added=quads, removed=quads.limit(0)))
    return (
        diff.added.select("subject", "predicate", "object_value")
        .orderBy("subject", "predicate", "object_value")
    )


# --- Q: primary-facet election over the sameAs closure ------------------------


@query(
    "q_primary_facet",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT 'c:' || a.c_custkey AS a_id, 'c:' || b.c_custkey AS b_id
      FROM customer a
      JOIN customer b
        ON a.c_custkey % {_PB} = b.c_custkey % {_PB}
       AND 'c:' || a.c_custkey < 'c:' || b.c_custkey
    ),
    edges AS (
      SELECT a_id AS s, b_id AS d FROM pairs
      UNION
      SELECT b_id AS s, a_id AS d FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, s FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ),
    comp AS (SELECT s AS node, MIN(d) AS component FROM reach GROUP BY s),
    ndesc AS (
      SELECT 'c:' || c.c_custkey AS node,
             5 + CASE WHEN c.c_acctbal > {tpch.BIG_SPENDER_MIN_ACCTBAL} THEN 1 ELSE 0 END
               + (SELECT COUNT(*) FROM pairs p WHERE p.a_id = 'c:' || c.c_custkey)
               AS n_desc
      FROM customer c
    ),
    ranked AS (
      SELECT comp.node, comp.component, ndesc.n_desc,
             ROW_NUMBER() OVER (
               PARTITION BY component ORDER BY n_desc DESC, comp.node
             ) AS rk
      FROM comp JOIN ndesc ON comp.node = ndesc.node
    ),
    heads AS (SELECT component, node AS head FROM ranked WHERE rk = 1)
    SELECT r.node, h.head AS primary_facet
    FROM ranked r JOIN heads h ON r.component = h.component
    ORDER BY node
    """,
    doc="Primary-facet election (enrichers/primary_facet.py; reference "
    "PrimaryFacetEnricher.scala:18-108): sameAs edges from the IFP phone "
    "bucket feed connected components; within each equivalence class the "
    "facet with the most descriptive triples (tie: smallest IRI) is "
    "elected, and every member points at it. The oracle recomputes the "
    "components by recursive CTE and the per-facet triple counts directly "
    "from the customer table (5 base quads + optional bigSpender + its "
    "subject-side sameAs edges).",
)
def q_primary_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..enrichers.primary_facet import primary_facet_enricher
    from ..rdf.store import Diff, StatementStore

    base = tpch.tpch_quads(spark, sf_dir)
    sameas = _ifp_sameas(base, "<")
    # the store relation is scanned once per compiled statement pattern
    # — pin the union so the sameas derivation (a join + distinct) runs
    # once, not per pattern (released via operators/cachereg)
    from ..operators.cachereg import pin

    store = StatementStore(pin(base.unionByName(sameas)))
    diff = primary_facet_enricher(
        store, Diff(added=sameas, removed=sameas.limit(0))
    )
    return (
        diff.added.select(
            F.col("subject").alias("node"),
            F.col("object_value").alias("primary_facet"),
        )
        .orderBy("node")
    )


# --- Q: primary-facet ranking through the SPARQL TEXT front door --------------


@query(
    "q_rdf_facet_rank",
    oracle=f"""
    SELECT 'c:' || c_custkey AS facet,
           5 + CASE WHEN c_acctbal > {tpch.BIG_SPENDER_MIN_ACCTBAL} THEN 1 ELSE 0 END
             + (SELECT COUNT(*) - 1 FROM customer b WHERE b.c_custkey % {_PB} = 1)
             AS n_desc
    FROM customer
    WHERE c_custkey % {_PB} = 1
    ORDER BY n_desc DESC, facet
    """,
    doc="The reference's primary-facet query shape through the SPARQL TEXT "
    "front end (PrimaryFacetEnricher.scala:20-27): a nested SELECT subquery "
    "over the sameAs* closure (RDF4J-style zero-length-path reflexivity), "
    "an outer variable-predicate description count, GROUP BY with ORDER BY "
    "DESC(COUNT(...)), and an RDF4J-setBinding-style parameter for the "
    "start facet. sameAs edges are the symmetric IFP phone-bucket pairs; "
    "the oracle enumerates the bucket of the bound start facet and counts "
    "each member's triples directly (5 base + optional bigSpender + its "
    "sameAs degree).",
)
def q_rdf_facet_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tpch.tpch_quads(spark, sf_dir)
    sameas = _ifp_sameas(base, "!=")
    # pin the queried store: the SPARQL text compiles one pattern scan
    # per triple pattern and the sameas arm re-derived its join per scan
    from ..operators.cachereg import pin

    quads = pin(base.unionByName(sameas))
    return sparql_select(
        quads,
        f"""
        SELECT ?facet (COUNT(?descriptionProperty) AS ?n_desc) WHERE {{
          {{
            SELECT ?facet {{
              ?facet <{vocab.SAME_AS}>* ?startFacet .
            }}
          }}
          ?facet ?descriptionProperty ?descriptionValue .
        }} GROUP BY ?facet ORDER BY DESC(COUNT(?descriptionProperty))
        """,
        bindings={"startFacet": "c:1"},
    )


# --- Q: grouped-sequence path closure + negated property set -----------------


@query(
    "q_rdf_grouped_path",
    oracle="""
    SELECT 'r:' || n_regionkey AS region, COUNT(*) AS n_customers
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_regionkey
    ORDER BY region
    """,
    doc="Grouped-sequence property-path closure (p:inNation/p:inRegion)+ "
    "through the SPARQL text front end (RDF4J accepts the full path "
    "grammar, api/SparqlService.scala:78-98): the grouped sequence is "
    "composed into a single (src, dst) edge relation by an equi-join on "
    "the midpoint BEFORE the closure loop, so the iteration runs over "
    "customer->region edges, not per-step quads. Oracle is the direct "
    "customer x nation rollup.",
)
def q_rdf_grouped_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch.tpch_quads(spark, sf_dir)
    return sparql_select(
        quads,
        """
        PREFIX p: <p:>
        PREFIX rdf: <rdf:>
        PREFIX schema: <schema:>
        SELECT ?region (COUNT(?c) AS ?n_customers) WHERE {
          ?c rdf:type schema:Customer .
          ?c (p:inNation/p:inRegion)+ ?region .
        }
        GROUP BY ?region
        ORDER BY ?region
        """,
    )


@query(
    "q_rdf_negated_pathset",
    oracle="""
    SELECT r_name AS region_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    ORDER BY region_name
    """,
    doc="Negated property set !(...) (SPARQL 1.1 sec 9.1) through the text "
    "front end: the customer->nation hop is reached by EXCLUDING every "
    "other customer predicate (predicate NOT IN scan), then joined up the "
    "region chain. Oracle is the direct relational rollup by region name.",
)
def q_rdf_negated_pathset(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch.tpch_quads(spark, sf_dir)
    return sparql_select(
        quads,
        """
        PREFIX p: <p:>
        PREFIX rdf: <rdf:>
        PREFIX schema: <schema:>
        SELECT ?region_name (COUNT(?c) AS ?n_customers) WHERE {
          ?c rdf:type schema:Customer .
          ?c !(p:phone|p:mktsegment|rdf:type|schema:name|p:bigSpender) ?n .
          ?n p:inRegion ?r .
          ?r schema:name ?region_name .
        }
        GROUP BY ?region_name
        ORDER BY ?region_name
        """,
    )


# --- Q: GROUP_CONCAT + HAVING through the text surface ------------------------


@query(
    "q_rdf_group_concat",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ', ' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    HAVING MIN(n_name) < 'NATION_13'
    ORDER BY r_name
    """,
    doc="SPARQL 1.1 GROUP_CONCAT (explicit separator, deterministic sorted "
    "order) plus HAVING over an aggregate, through the text front end — "
    "RDF4J grammar parity for the aggregate tail.",
)
def q_rdf_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    quads = tpch.tpch_quads(spark, sf_dir)
    return sparql_select(
        quads,
        """
        PREFIX p: <p:>
        PREFIX schema: <schema:>
        SELECT ?r_name (GROUP_CONCAT(?n_name ; SEPARATOR = ", ") AS ?nations)
               (COUNT(?n) AS ?n_nations)
        WHERE {
          ?n p:inRegion ?r .
          ?n schema:name ?n_name .
          ?r schema:name ?r_name .
        }
        GROUP BY ?r_name
        HAVING (MIN(?n_name) < "NATION_13")
        ORDER BY ?r_name
        """,
    )
