"""Enrichers: incremental inference stages over statement diffs.

Reference architecture (SURVEY.md §3.2): each enricher consumes the
StatementSetDiff flowing out of document ingestion, reads the store, and
writes its inferences into its own named graph. Here an enricher is a pure
function ``(store, diff) -> Diff`` — ``pipeline.ingest`` applies the
returned diff to the store and appends it to the flowing diff, preserving
the reference's stage-chaining semantics with exactly-once application.
"""

from .counting import CountingInferencer
from .ifp import counting_ifp_enricher
from .owl import owl_enricher
from .rdfs import counting_rdfs_enricher, rdfs_enricher

__all__ = [
    "CountingInferencer",
    "counting_ifp_enricher",
    "counting_rdfs_enricher",
    "owl_enricher",
    "rdfs_enricher",
]
