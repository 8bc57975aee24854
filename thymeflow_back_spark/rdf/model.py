"""Quad data model: the canonical statement table.

Reference data model (SURVEY.md §1): a statement is
(subject: Resource, predicate: IRI, object: Value, context: Resource) —
RDF4J Statement with mandatory context (reference Document.scala:9-11).
Spark mapping: one row of a 7-column DataFrame; object values keep their
lexical form plus type/datatype/lang columns, cast lazily at query time
(reference keeps typed Literals; we keep lexical + datatype, same
information).

At scale the quads table is stored partitioned by predicate (point lookups
on predicate prune partitions; subject-sorted within files for min/max
skipping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

QUAD_COLUMNS = (
    "subject",
    "predicate",
    "object_value",
    "object_type",  # iri | bnode | literal
    "object_datatype",  # XSD IRI; null for iri/bnode objects
    "object_lang",  # nullable language tag
    "graph",  # named graph IRI — never null (Document invariant)
)

QUAD_SCHEMA = StructType([StructField(c, StringType(), c != "graph") for c in QUAD_COLUMNS])

# Triple identity = (subject, predicate, object); used for cross-context
# dedup and negation checks (reference Pipeline.scala:79-87).
SPO = ("subject", "predicate", "object_value", "object_type")

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_DOUBLE = XSD + "double"
XSD_LONG = XSD + "long"
XSD_DATETIME = XSD + "dateTime"

# Negative assertion encoding: a quad with predicate NEG_PREFIX+<p> asserts
# that <s, p, o> must NOT be re-added by synchronization (the reference
# rewrites predicates into a negation namespace — Negation.scala:16-23).
# One special pair (Negation.scala:21-23): personal:sameAs and
# personal:differentFrom are each other's negation — removing a sameAs
# statement asserts a first-class differentFrom (which the IFP inferencer
# then respects as an identity veto), not an opaque prefixed quad.
NEG_PREFIX = "urn:neg:"

from . import vocab as _vocab  # noqa: E402  (constants only, no import cycle)

_SPECIAL_NEGATION = {
    _vocab.SAME_AS: _vocab.DIFFERENT_FROM,
    _vocab.DIFFERENT_FROM: _vocab.SAME_AS,
}


def negate(predicate: str) -> str:
    return _SPECIAL_NEGATION.get(predicate, NEG_PREFIX + predicate)


def is_negation(predicate: str) -> bool:
    return predicate.startswith(NEG_PREFIX) or predicate in _SPECIAL_NEGATION


def local_relation(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver-side rows as a LocalRelation, built through Arrow: scans run
    in the JVM and the optimizer knows the relation is tiny. A DataFrame
    made by ``createDataFrame(list)`` is an RDD of pickled rows instead —
    every scan starts Python tasks, and its size is unknown, so joins
    against it shuffle."""
    import pandas as pd

    if not rows:  # Arrow skips empty frames; a zero limit optimizes to an empty LocalRelation
        return spark.createDataFrame([], schema).limit(0)
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


def empty_quads(spark: SparkSession) -> DataFrame:
    return local_relation(spark, [], QUAD_SCHEMA)


def make_quads(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Quads from python tuples (testing/fixtures), schema-checked."""
    return spark.createDataFrame(rows, QUAD_SCHEMA)


def negate_col(pred):
    """Column form of ``negate`` (used by the vectorized negation paths)."""
    from pyspark.sql import Column, functions as F  # local: keep model import-light

    p = pred if isinstance(pred, Column) else F.col(pred)
    return (
        F.when(p == _vocab.SAME_AS, F.lit(_vocab.DIFFERENT_FROM))
        .when(p == _vocab.DIFFERENT_FROM, F.lit(_vocab.SAME_AS))
        .otherwise(F.concat(F.lit(NEG_PREFIX), p))
    )
