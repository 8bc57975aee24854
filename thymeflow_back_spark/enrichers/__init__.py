"""Enrichers: incremental inference stages over statement diffs.

Reference architecture (SURVEY.md §3.2): each enricher consumes the
StatementSetDiff flowing out of document ingestion, reads the store, and
writes its inferences into its own named graph. Here an enricher is a pure
function ``(store, diff) -> Diff`` that keeps nothing between calls — the
store is the only state, so an enricher that retracts (IFP, primary facet)
rederives from it what the diff touches. ``pipeline.ingest`` applies the
returned diff to the store and appends it to the flowing diff, preserving
the reference's stage-chaining semantics with exactly-once application.
Each caller imports the module it uses.
"""
