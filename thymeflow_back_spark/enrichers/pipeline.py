"""The ingest round: document ingestion → ordered enricher chain.

Parity with reference Pipeline.scala:37-42 + Thymeflow.scala:56-63: each
ingested document produces a diff; enrichers run in order, each seeing the
store state left by its predecessors; their inferences are applied to the
store and appended to the flowing diff. ``ingest`` is that round — one
document replace, one materialization, one pass of the chain — and the
only way data enters the store with enrichment: the supervisor's sync
rounds run it. Enrichers keep no state of their own, so the store a round
leaves depends only on the store it started from and the documents it
delivered.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from ..rdf.store import Diff, StatementStore

Enricher = Callable[[StatementStore, Diff], Diff]


def ingest(
    store: StatementStore,
    quads: DataFrame,
    graphs: list[str] | DataFrame | None = None,
    enrichers: Sequence[Enricher] = (),
    metadata: Callable[[StatementStore, Diff], Diff] | None = None,
) -> tuple[StatementStore, Diff]:
    """Replace every document graph in ``quads`` (and ``graphs``), run the
    enricher chain once over the combined diff; return (store, total diff).

    The document diff is pinned before anything reads it, so the batch's
    inputs are evaluated once however many readers follow. ``metadata``
    derives extra statements from (pre-batch store, pinned diff) — the
    supervisor's ``personal:documentOf`` links — applied in the same single
    materialization as the documents. Each enricher's diff is pinned and
    materialized in turn, since the next enricher reads the store it leaves.
    A micro-batch of n documents costs O(1) Spark job chains, not O(n).
    """
    _, diff = store.add_documents(quads, graphs=graphs)
    diff = diff.pin()
    if metadata is not None:
        diff = diff.union(metadata(store, diff))
    store = store.apply_diff(diff).materialize()
    for enricher in enrichers:
        extra = enricher(store, diff).pin()
        store = store.apply_diff(extra).materialize()
        diff = diff.union(extra)
    return store, diff
