"""Quad-ification of the synthetic relational tables.

Turns customer/nation/region into a canonical quads DataFrame so the RDF
layer (store, SPARQL compiler, IFP inference, closure) can be exercised — and
oracle-checked — against the same data the relational queries use. The
mapping is the property-table inverse of SURVEY.md §1.5: one row per
(entity, property) with IRIs minted deterministically from keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from .model import QUAD_COLUMNS, XSD_DOUBLE, XSD_STRING

GRAPH = "g:tpch"
TYPE = "rdf:type"
NAME = "schema:name"
IN_NATION = "p:inNation"
IN_REGION = "p:inRegion"
PHONE = "p:phone"  # inverse-functional property (synthetic: custkey % 97)
SEGMENT = "p:mktsegment"
BIG_SPENDER = "p:bigSpender"  # present only when acctbal > 9000 (OPTIONAL demo)

PHONE_BUCKETS = 97
BIG_SPENDER_MIN_ACCTBAL = 9000


def _quad(s, p, o, otype: str, dtype: str | None) -> list:
    return [
        s,
        F.lit(p),
        o,
        F.lit(otype),
        F.lit(dtype) if dtype else F.lit(None).cast("string"),
        F.lit(None).cast("string"),
        F.lit(GRAPH),
    ]


def _rows(df: DataFrame, *quads: list) -> DataFrame:
    parts = [df.select(*[c.alias(n) for c, n in zip(q, QUAD_COLUMNS)]) for q in quads]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tpch_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    c_iri = F.concat(F.lit("c:"), F.col("c_custkey"))
    n_iri_of_c = F.concat(F.lit("n:"), F.col("c_nationkey"))
    phone = F.concat(F.lit("phone:"), F.col("c_custkey") % PHONE_BUCKETS)

    c_quads = _rows(
        customer,
        _quad(c_iri, TYPE, F.lit("schema:Customer"), "iri", None),
        _quad(c_iri, NAME, F.col("c_name"), "literal", XSD_STRING),
        _quad(c_iri, IN_NATION, n_iri_of_c, "iri", None),
        _quad(c_iri, PHONE, phone, "literal", XSD_STRING),
        _quad(c_iri, SEGMENT, F.col("c_mktsegment"), "literal", XSD_STRING),
    )
    bs_quads = _rows(
        customer.filter(F.col("c_acctbal") > BIG_SPENDER_MIN_ACCTBAL),
        _quad(c_iri, BIG_SPENDER, F.col("c_acctbal").cast("string"), "literal", XSD_DOUBLE),
    )
    n_iri = F.concat(F.lit("n:"), F.col("n_nationkey"))
    n_quads = _rows(
        nation,
        _quad(n_iri, TYPE, F.lit("schema:Nation"), "iri", None),
        _quad(n_iri, NAME, F.col("n_name"), "literal", XSD_STRING),
        _quad(n_iri, IN_REGION, F.concat(F.lit("r:"), F.col("n_regionkey")), "iri", None),
    )
    r_iri = F.concat(F.lit("r:"), F.col("r_regionkey"))
    r_quads = _rows(
        region,
        _quad(r_iri, TYPE, F.lit("schema:Region"), "iri", None),
        _quad(r_iri, NAME, F.col("r_name"), "literal", XSD_STRING),
    )
    # PIN the quad relation: a SPARQL query compiles one statement-pattern
    # scan PER TRIPLE PATTERN, so a multi-pattern query over this derived
    # union re-encoded the base tables dozens of times (q_rdf_facet_rank:
    # 42 source scans, q_paris_agents: 40 — the plan-audit worst cases).
    # A real store holds quads physically materialized; the pin is that
    # materialization for the derived encoding, one compute per query.
    # Released between queries by the harness (operators/cachereg).
    from ..operators.cachereg import pin

    return pin(c_quads.unionByName(bs_quads).unionByName(n_quads).unionByName(r_quads))
