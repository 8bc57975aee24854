"""Inverse-functional-property identity inference.

Parity with reference InverseFunctionalPropertyInferencer.scala:37-53:
agents sharing an email/telephone/url OBJECT value are inferred sameAs
(symmetric pairs), written into the enricher's own graph. An asserted
differentFrom vetoes the pair (the reference's isDifferentFrom guard,
AbstractEnricher.scala:17-21).

Incremental discipline: ``ifp_enricher`` takes the agents a round's diff
touches — subjects of added or removed premises, both ends of added or
removed differentFrom quads — rederives their pairs against the post-round
store (diff × store, never store × store) and replaces its graph's rows for
those agents, so each round's cost follows the round.

The store is the only state. The reference instead keeps a count of
derivations per inference (its inference-counting inferencer, lines 20-46;
SURVEY.md, "Reference counting"). Counts are right only if every change is
seen exactly once, and a veto folded into the counts when a premise changes
is not lifted when the differentFrom goes, so the same documents can give
different stores by delivery order. Rederiving needs no count for
multi-support either: a pair with a second shared value survives losing
the first, because the second is still in the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf import vocab
from ..rdf.model import QUAD_COLUMNS
from ..rdf.store import Diff, StatementStore, _anti

IFP_PREDICATES = (vocab.EMAIL, vocab.TELEPHONE, vocab.URL)
OUTPUT_GRAPH = "urn:graph:ifpInferencer"


def _ifp_spv(df: DataFrame) -> DataFrame:
    return (
        df.filter(
            (F.col("predicate").isin(*IFP_PREDICATES)) & (F.col("object_type") == "iri")
        )
        .select("subject", "predicate", "object_value")
        .dropDuplicates()
    )


def different_pairs(store: StatementStore) -> DataFrame:
    """(a, b) with a < b for every asserted differentFrom, either way round:
    the agent pairs no sameAs may join."""
    return store.quads.filter(F.col("predicate") == vocab.DIFFERENT_FROM).select(
        F.least("subject", "object_value").alias("a"),
        F.greatest("subject", "object_value").alias("b"),
    )


def same_as_quads(pairs: DataFrame, graph: str) -> DataFrame:
    """Both orientations of each (a, b) pair as sameAs quads in ``graph``."""
    return (
        pairs.select(F.col("a").alias("subject"), F.col("b").alias("object_value"))
        .unionByName(pairs.select(F.col("b").alias("subject"), F.col("a").alias("object_value")))
        .select(
            "subject",
            F.lit(vocab.SAME_AS).alias("predicate"),
            "object_value",
            F.lit("iri").alias("object_type"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.lit(None).cast("string").alias("object_lang"),
            F.lit(graph).alias("graph"),
        )
    )


def ifp_enricher(store: StatementStore, diff: Diff) -> Diff:
    """Replace the IFP graph's rows for the agents ``diff`` touches with the
    IFP rule rederived for them over ``store`` (the post-round store)."""
    changed = diff.added.unionByName(diff.removed)
    vetoes = changed.filter(F.col("predicate") == vocab.DIFFERENT_FROM)
    touched = (
        _ifp_spv(changed).select("subject")
        .unionByName(vetoes.select("subject"))
        .unionByName(vetoes.select(F.col("object_value").alias("subject")))
        .dropDuplicates()
    )

    values = _ifp_spv(store.quads)
    mine = values.join(touched, "subject", "left_semi")
    pairs = (
        mine.alias("d")
        .join(
            values.alias("s"),
            (F.col("d.predicate") == F.col("s.predicate"))
            & (F.col("d.object_value") == F.col("s.object_value"))
            & (F.col("d.subject") != F.col("s.subject")),
        )
        .select(
            F.least("d.subject", "s.subject").alias("a"),
            F.greatest("d.subject", "s.subject").alias("b"),
        )
        .dropDuplicates()
        .join(different_pairs(store), ["a", "b"], "left_anti")
    )
    inferred = same_as_quads(pairs, OUTPUT_GRAPH)

    ifp = store.graph(OUTPUT_GRAPH)
    current = (
        ifp.join(touched, "subject", "left_semi")
        .unionByName(ifp.join(touched.withColumnRenamed("subject", "object_value"),
                              "object_value", "left_semi"))
        .dropDuplicates()
    )
    return Diff(_anti(inferred, current, QUAD_COLUMNS), _anti(current, inferred, QUAD_COLUMNS))


def counting_ifp_enricher():
    """Returns ``ifp_enricher``. Kept only because the benchmark's set-up
    (``perfbench/pkb.py``) imports this name; delete it with the benchmark
    change that stops importing it."""
    return ifp_enricher
