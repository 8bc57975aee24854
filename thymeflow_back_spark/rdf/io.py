"""N-Triples serialization of quads, the CONSTRUCT/DESCRIBE answer format
of the SPARQL endpoint (``api.service.quads_ntriples``).

The line is a pure column expression: escaping is chained
``regexp_replace``, so it runs JVM-side inside whole-stage codegen with no
Python in the path. Parsing RDF text formats is not part of the program:
the reference's FileSynchronizer dispatches eml/ics/vcf/zip/json only
(SURVEY.md §2.1), and no entry point loads RDF files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .model import XSD_STRING


def _escape_col(c: Column) -> Column:
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    c = F.regexp_replace(c, "\t", r"\\t")
    return c


def _term_col() -> Column:
    lit = F.concat(F.lit('"'), _escape_col(F.col("object_value")), F.lit('"'))
    lit_with_tag = (
        F.when(F.col("object_lang").isNotNull(), F.concat(lit, F.lit("@"), F.col("object_lang")))
        .when(
            F.col("object_datatype").isNotNull() & (F.col("object_datatype") != XSD_STRING),
            F.concat(lit, F.lit("^^<"), F.col("object_datatype"), F.lit(">")),
        )
        .otherwise(lit)
    )
    return (
        F.when(F.col("object_type") == "iri", F.concat(F.lit("<"), F.col("object_value"), F.lit(">")))
        .when(F.col("object_type") == "bnode", F.col("object_value"))
        .otherwise(lit_with_tag)
    )


def _subject_col() -> Column:
    return F.when(
        F.col("subject").startswith("_:"), F.col("subject")
    ).otherwise(F.concat(F.lit("<"), F.col("subject"), F.lit(">")))


def serialize_ntriples(quads: DataFrame) -> DataFrame:
    """Quads → one-column (`line`) N-Triples DataFrame. Fully JVM-side
    (string expressions inside codegen); write with df.write.text."""
    return quads.select(
        F.concat_ws(
            " ",
            _subject_col(),
            F.concat(F.lit("<"), F.col("predicate"), F.lit(">")),
            _term_col(),
            F.lit("."),
        ).alias("line")
    )
