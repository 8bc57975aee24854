"""Simple OWL forward chaining: inverseOf / SymmetricProperty /
TransitiveProperty materialized to fixpoint.

Parity with reference ForwardChainingSimpleOWLInferencerConnection.scala:
23-170 — its 7 rule methods are the semi-naïve "new schema fact" / "new
data fact" variants of three logical rules:

- p owl:inverseOf q  &&  x q y   --->  y p x   (inverseOf1/2)
- p a owl:SymmetricProperty && x p y ---> y p x  (symmetric1/2)
- p a owl:TransitiveProperty && x p y && y p z ---> x p z (transitive1/21/22)

plus axiom statements (addAxiomStatements) making owl:sameAs,
owl:equivalentClass/Property themselves symmetric+transitive, and
owl:inverseOf symmetric (so declaring p inverseOf q also fires q
inverseOf p).

Spark shape: one semi-naïve driver loop. Schema facts (the property
declarations) are tiny and broadcast; each round joins only the last
round's DELTA against the store, so cost tracks new facts. Rule firing for
a batch whose delta contains *schema* additions falls back to seeding the
delta with every statement of the newly-declared properties (the reference's
rule-1 variants scanning the wrapped connection).

Retraction: multi-premise transitive chains have no cheap exact ref-count
(a removed premise can support unboundedly many chain derivations), which
is why the reference leaves this inferencer disabled by default
(reference.conf:24-25) and rebuilds inference on schema change. Here the
same discipline: ``owl_enricher`` is add-only; call it on a store rebuilt
from base quads to recompute after removals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf import vocab
from ..rdf.model import QUAD_COLUMNS
from ..rdf.store import Diff, StatementStore

OWL = "http://www.w3.org/2002/07/owl#"
INVERSE_OF = OWL + "inverseOf"
SYMMETRIC_PROPERTY = OWL + "SymmetricProperty"
TRANSITIVE_PROPERTY = OWL + "TransitiveProperty"
OWL_SAME_AS = OWL + "sameAs"
EQUIVALENT_CLASS = OWL + "equivalentClass"
EQUIVALENT_PROPERTY = OWL + "equivalentProperty"
OUTPUT_GRAPH = "urn:graph:owlInferencer"

# addAxiomStatements parity (the subset with rule consequences): these
# builtin properties behave symmetric/transitive without being declared so
# in the user ontology.
AXIOM_SYMMETRIC = (OWL_SAME_AS, EQUIVALENT_CLASS, EQUIVALENT_PROPERTY, INVERSE_OF)
AXIOM_TRANSITIVE = (OWL_SAME_AS, EQUIVALENT_CLASS, EQUIVALENT_PROPERTY)


def _iri_triples(df: DataFrame) -> DataFrame:
    """IRI-object triples (the rules only fire on resource objects)."""
    return (
        df.filter(F.col("object_type") == "iri")
        .select("subject", "predicate", "object_value")
        .dropDuplicates()
    )


def _schema(store: StatementStore) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(inverse pairs, symmetric props, transitive props) from the store +
    axioms; inverse pairs are closed under the symmetry of owl:inverseOf."""
    spark = store.quads.sparkSession
    quads = store.quads
    inv = quads.filter(
        (F.col("predicate") == INVERSE_OF) & (F.col("object_type") == "iri")
    ).select(F.col("subject").alias("p"), F.col("object_value").alias("q"))
    inv = inv.unionByName(
        inv.select(F.col("q").alias("p"), F.col("p").alias("q"))
    ).dropDuplicates()
    sym = quads.filter(
        (F.col("predicate") == vocab.RDF_TYPE)
        & (F.col("object_value") == SYMMETRIC_PROPERTY)
    ).select(F.col("subject").alias("p"))
    sym = sym.unionByName(
        spark.createDataFrame([(p,) for p in AXIOM_SYMMETRIC], "p string")
    ).dropDuplicates()
    trans = quads.filter(
        (F.col("predicate") == vocab.RDF_TYPE)
        & (F.col("object_value") == TRANSITIVE_PROPERTY)
    ).select(F.col("subject").alias("p"))
    trans = trans.unionByName(
        spark.createDataFrame([(p,) for p in AXIOM_TRANSITIVE], "p string")
    ).dropDuplicates()
    return inv, sym, trans


def owl_enricher(store: StatementStore, diff: Diff, max_iterations: int = 25) -> Diff:
    """Materialize OWL consequences of the diff's added statements to
    fixpoint (semi-naïve: each round joins only the new-fact delta)."""
    from ..operators.cachereg import pin

    inv, sym, trans = _schema(store)
    inv, sym, trans = F.broadcast(inv), F.broadcast(sym), F.broadcast(trans)

    # the store-wide IRI-triple projection feeds the seeding join, the
    # transitive known-side join, and the per-round anti-join; the diff
    # projection feeds the delta plus both schema-seed branches — pin
    # both so an enrich over a derived quad relation scans it once
    # (released via operators.cachereg.release_pinned)
    known = pin(_iri_triples(store.quads))
    added_iri = pin(_iri_triples(diff.added))
    delta = added_iri

    # schema additions re-fire the rules over the WHOLE store for the newly
    # declared properties (the reference's rule-1 variants)
    new_inv_props = added_iri.filter(F.col("predicate") == INVERSE_OF)
    new_props = (
        new_inv_props.select(F.col("subject").alias("p"))
        .unionByName(new_inv_props.select(F.col("object_value").alias("p")))
        .unionByName(
            diff.added.filter(
                (F.col("predicate") == vocab.RDF_TYPE)
                & (F.col("object_value").isin(SYMMETRIC_PROPERTY, TRANSITIVE_PROPERTY))
            ).select(F.col("subject").alias("p"))
        )
        .dropDuplicates()
    )
    seeded = known.join(
        new_props, known["predicate"] == new_props["p"], "left_semi"
    )
    delta = delta.unionByName(seeded).dropDuplicates()

    derived_all = known.filter(F.lit(False))
    converged = False
    for _ in range(max_iterations):
        # y q x from x p y, (q inverseOf p)
        inv_step = (
            delta.join(inv, delta["predicate"] == inv["q"])
            .select(
                F.col("object_value").alias("subject"),
                F.col("p").alias("predicate"),
                F.col("subject").alias("object_value"),
            )
        )
        # y p x for symmetric p
        sym_step = (
            delta.join(sym, delta["predicate"] == sym["p"], "left_semi")
            .select(
                F.col("object_value").alias("subject"),
                "predicate",
                F.col("subject").alias("object_value"),
            )
        )
        # x p z from (x p y in delta, y p z known) ∪ (x p y known, y p z in delta)
        t_delta = delta.join(trans, delta["predicate"] == trans["p"], "left_semi")
        t_known = known.join(trans, known["predicate"] == trans["p"], "left_semi")
        trans_step = (
            t_delta.alias("d")
            .join(
                t_known.alias("k"),
                (F.col("d.object_value") == F.col("k.subject"))
                & (F.col("d.predicate") == F.col("k.predicate")),
            )
            .select(
                F.col("d.subject").alias("subject"),
                F.col("d.predicate").alias("predicate"),
                F.col("k.object_value").alias("object_value"),
            )
            .unionByName(
                t_known.alias("k")
                .join(
                    t_delta.alias("d"),
                    (F.col("k.object_value") == F.col("d.subject"))
                    & (F.col("k.predicate") == F.col("d.predicate")),
                )
                .select(
                    F.col("k.subject").alias("subject"),
                    F.col("k.predicate").alias("predicate"),
                    F.col("d.object_value").alias("object_value"),
                )
            )
        )
        step = (
            inv_step.unionByName(sym_step)
            .unionByName(trans_step)
            .filter(F.col("subject") != F.col("object_value"))
            .dropDuplicates()
        )
        new = step.join(known, on=["subject", "predicate", "object_value"], how="left_anti")
        new = new.localCheckpoint(eager=True)
        if new.limit(1).count() == 0:
            converged = True
            break
        # keep the known union LAZY: both legs are materialized (the pinned
        # store projection / checkpointed per-round deltas), so consumers
        # scan them without recompute — the former eager re-checkpoint
        # REWROTE the whole accumulated fact set every round (O(total
        # facts) per round, the labelprop round-11 lesson)
        known = known.unionByName(new)
        derived_all = derived_all.unionByName(new)
        delta = new
    if not converged:
        raise RuntimeError(
            f"owl_enricher did not converge in {max_iterations} iterations; "
            "raise max_iterations"
        )

    # every round anti-joins against ``known``, which holds every IRI triple
    # of the store, so nothing in derived_all is in the store already
    added = (
        derived_all.withColumn("object_type", F.lit("iri"))
        .withColumn("object_datatype", F.lit(None).cast("string"))
        .withColumn("object_lang", F.lit(None).cast("string"))
        .withColumn("graph", F.lit(OUTPUT_GRAPH))
        .select(*QUAD_COLUMNS)
        .dropDuplicates(list(QUAD_COLUMNS))
    )
    return Diff(added, store.quads.filter(F.lit(False)))
