"""thymeflow_back_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of thymeflow/thymeflow-back.

The reference (AGPLv3, Scala/RDF4J/Akka, surveyed in SURVEY.md) is a personal
knowledge-base backend: an RDF quad store fed by incremental synchronizers and
an enricher pipeline (identity inference, entity resolution, geo stay-point
analytics), queried through SPARQL. This package re-expresses that capability
surface Spark-first:

- ``rdf``        — quad data model, statement store (graph-replace / negation
                   semantics of reference Pipeline.scala:61-93) on DataFrames.
- ``plans``      — the SPARQL text compiler: the SPARQL-subset workload of
                   SURVEY.md §2.3 (BGP/OPTIONAL/UNION/FILTER, paths,
                   aggregates, updates) as one Spark SQL statement per
                   request over the quad store.
- ``operators``  — interval joins, sessionization, top-k, dedup (exact /
                   MinHash-LSH / SimHash / n-gram Jaccard), similarity search,
                   text analysis, closure/connected components.
- ``functions``  — scalar function library (geo, temporal, text normalization,
                   deterministic ID minting) as JVM-side column expressions.
- ``algorithms`` — per-group local algorithms (text alignment, min-cost flow,
                   bipartite matching, stay-point clustering) used inside
                   Pandas UDFs.
- ``queries``    — the declared query catalog: every entry has a Spark
                   implementation and (where SQL-expressible) a DuckDB oracle.

Everything here is built on public knowledge only: the PySpark API and the
reference repo's observable behavior.
"""

__version__ = "0.1.0"
