"""RDFS forward chaining: subclass / subproperty / domain / range
materialization to fixpoint.

Parity with the reference's ForwardChainingRDFSInferencer sail (SURVEY.md
§2.11): derived type/statement triples are materialized eagerly at write
time. Spark shape: a semi-naïve fixpoint — each round joins only the LAST
round's delta against the (transitively closed) ontology, so rule firing
cost tracks the new facts, not the store. The ontology (schema triples) is
small and broadcast.

``rdfs_enricher`` is add-only: a withdrawn premise leaves its consequences
in place. Its one caller is the catalog's ``q_rdf_rdfs_closure``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cachereg import pin
from ..operators.closure import transitive_closure_local
from ..rdf import vocab
from ..rdf.model import QUAD_COLUMNS
from ..rdf.store import Diff, StatementStore, _anti

RDFS = "http://www.w3.org/2000/01/rdf-schema#"
SUB_CLASS_OF = RDFS + "subClassOf"
SUB_PROPERTY_OF = RDFS + "subPropertyOf"
DOMAIN = RDFS + "domain"
RANGE = RDFS + "range"
OUTPUT_GRAPH = "urn:graph:rdfsInferencer"


def rdfs_derivations(premises: DataFrame, store: StatementStore) -> DataFrame:
    """RDFS consequences of ``premises``, one row per derived quad. Rules
    are single-premise given the ontology, read from ``store`` and treated
    as static schema state, like the reference's startup-loaded ontology
    graph."""
    # the schema filter feeds FOUR consumers (subclass, subproperty,
    # domain, range); in an enrich over a derived quad relation (e.g. the
    # tpch quad encoding) each consumer would otherwise re-derive the
    # whole store scan — pin it (released by the harness via
    # operators.cachereg.release_pinned once results are materialized)
    ontology = pin(
        store.quads.filter(
            F.col("predicate").isin(SUB_CLASS_OF, SUB_PROPERTY_OF, DOMAIN, RANGE)
        ).select("subject", "predicate", "object_value")
    )

    # transitively close the subclass/subproperty hierarchies (small, local)
    sub_class = transitive_closure_local(
        ontology.filter(F.col("predicate") == SUB_CLASS_OF).select(
            F.col("subject").alias("src"), F.col("object_value").alias("dst")
        )
    ).filter(F.col("src") != F.col("dst"))
    sub_prop = transitive_closure_local(
        ontology.filter(F.col("predicate") == SUB_PROPERTY_OF).select(
            F.col("subject").alias("src"), F.col("object_value").alias("dst")
        )
    ).filter(F.col("src") != F.col("dst"))
    domains = ontology.filter(F.col("predicate") == DOMAIN).select(
        F.col("subject").alias("p"), F.col("object_value").alias("cls")
    )
    ranges = ontology.filter(F.col("predicate") == RANGE).select(
        F.col("subject").alias("p"), F.col("object_value").alias("cls")
    )

    # premise identity is the triple (graph-insensitive, like cross-context
    # dedup): multiple graph copies of one triple are one premise.
    # This is THE multi-consumer subtree of the rule joins (types,
    # subproperty lift, domain, range all read it) — materialize the
    # premise diff ONCE per enrich call instead of re-deriving the quad
    # encoding per rule join (the plan audit showed ~30 base-table scans).
    added = pin(
        premises.select(
            "subject", "predicate", "object_value", "object_type"
        ).dropDuplicates()
    )

    # rdfs9/11: x a C, C ⊑* D → x a D
    types = added.filter(F.col("predicate") == vocab.RDF_TYPE).select(
        "subject", F.col("object_value").alias("cls")
    )
    super_types = (
        types.join(F.broadcast(sub_class), types["cls"] == sub_class["src"])
        .select(
            "subject",
            F.lit(vocab.RDF_TYPE).alias("predicate"),
            F.col("dst").alias("object_value"),
            F.lit("iri").alias("object_type"),
        )
    )

    # rdfs7: s p o, p ⊑* q → s q o
    props = added.select("subject", "predicate", "object_value", "object_type")
    super_props = (
        props.join(F.broadcast(sub_prop), props["predicate"] == sub_prop["src"])
        .select(
            "subject",
            F.col("dst").alias("predicate"),
            "object_value",
            "object_type",
        )
    )

    # rdfs2/3: s p o, domain(p)=C → s a C ; range(p)=C, o iri → o a C
    # two consumers (domain + range) — pin so the subproperty lift join
    # runs once, not per rule
    all_props = pin(props.unionByName(super_props))
    domain_types = (
        all_props.join(F.broadcast(domains), all_props["predicate"] == domains["p"])
        .select(
            "subject",
            F.lit(vocab.RDF_TYPE).alias("predicate"),
            F.col("cls").alias("object_value"),
            F.lit("iri").alias("object_type"),
        )
    )
    range_types = (
        all_props.filter(F.col("object_type") == "iri")
        .join(F.broadcast(ranges), all_props["predicate"] == ranges["p"])
        .select(
            F.col("object_value").alias("subject"),
            F.lit(vocab.RDF_TYPE).alias("predicate"),
            F.col("cls").alias("object_value"),
            F.lit("iri").alias("object_type"),
        )
    )

    # two consumers (the subclass re-closure + the final union) — pin so
    # the four rule joins execute once
    derived = pin(
        super_types.unionByName(super_props)
        .unionByName(domain_types)
        .unionByName(range_types)
    )
    # close derived types under subclass again (domain/range may introduce new
    # types whose superclasses must also be materialized) — one extra round
    # suffices because sub_class is already transitively closed
    derived_types = derived.filter(F.col("predicate") == vocab.RDF_TYPE).select(
        "subject", F.col("object_value").alias("cls")
    )
    derived2 = (
        derived_types.join(F.broadcast(sub_class), derived_types["cls"] == sub_class["src"])
        .select(
            "subject",
            F.lit(vocab.RDF_TYPE).alias("predicate"),
            F.col("dst").alias("object_value"),
            F.lit("iri").alias("object_type"),
        )
    )
    return (
        derived.unionByName(derived2)
        .dropDuplicates()
        .withColumn("object_datatype", F.lit(None).cast("string"))
        .withColumn("object_lang", F.lit(None).cast("string"))
        .withColumn("graph", F.lit(OUTPUT_GRAPH))
        .select(*QUAD_COLUMNS)
    )


def rdfs_enricher(store: StatementStore, diff: Diff) -> Diff:
    """The RDFS consequences of the diff's added statements that the store
    does not hold yet."""
    new_quads = _anti(rdfs_derivations(diff.added, store), store.quads, QUAD_COLUMNS)
    return Diff(new_quads, store.quads.filter(F.lit(False)))
