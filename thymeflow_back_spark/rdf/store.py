"""StatementStore: the quad store with document-replace and negation
semantics of the reference pipeline.

Semantics ported (behavioral parity with reference Pipeline.scala:61-93 and
AbstractEnricher.scala:26-58):

- ``add_document(graph, statements)`` REPLACES the named graph: the new
  statement set is diffed against the graph's current contents; unchanged
  statements are untouched, missing ones removed, new ones added.
- An add is SKIPPED if the same (s, p, o) triple already exists in any other
  context (cross-context dedup) or if a negation quad asserts its removal.
- The diff (added, removed) is returned so enricher stages can be driven
  incrementally — StatementSetDiff is the unit of dataflow.

This implementation is purely functional over DataFrames (each operation
returns a new store); per-graph replacement is an anti-join + union — the
Delta-MERGE shape without requiring Delta. At scale the store would be a
Delta/Iceberg table and ``commit`` a MERGE keyed on the full quad.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functools import reduce

from .model import NEG_PREFIX, QUAD_COLUMNS, SPO


def _join(a: DataFrame, b: DataFrame, cols, how: str, extra=None) -> DataFrame:
    """``a`` semi/anti-joined with ``b`` on ``cols``, NULL equal to NULL
    (quad columns are nullable — plain column-list joins would silently
    keep every row with a NULL datatype/lang out of anti-joins).

    Both sides are aliased and the condition names them (``l.``/``r.``), so
    joining a relation with one derived from it (a diff against the store
    it came from) resolves each side, rather than relying on Spark to
    rewrite an ambiguous, trivially true equality."""
    cond = reduce(lambda x, y: x & y, [F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in cols])
    if extra is not None:
        cond = cond & extra
    return a.alias("l").join(b.alias("r"), on=cond, how=how)


def _anti(a: DataFrame, b: DataFrame, cols, extra=None) -> DataFrame:
    return _join(a, b, cols, "left_anti", extra)


def _semi(a: DataFrame, b: DataFrame, cols) -> DataFrame:
    return _join(a, b, cols, "left_semi")


@dataclass(frozen=True)
class Diff:
    """StatementSetDiff: the unit of dataflow between pipeline stages."""

    added: DataFrame
    removed: DataFrame

    def filter(self, condition) -> "Diff":
        return Diff(self.added.filter(condition), self.removed.filter(condition))

    def union(self, other: "Diff") -> "Diff":
        return Diff(
            self.added.unionByName(other.added), self.removed.unionByName(other.removed)
        )

    def tagged(self) -> DataFrame:
        """Both sides as one relation: the quad columns plus ``__added``
        (True on added rows), so one job evaluates the whole diff."""
        return self.added.select(*QUAD_COLUMNS, F.lit(True).alias("__added")).unionByName(
            self.removed.select(*QUAD_COLUMNS, F.lit(False).alias("__added"))
        )

    def pin(self) -> "Diff":
        """Evaluate both sides in one job and cut their lineage
        (localCheckpoint): every later reader sees the same rows, and
        nothing upstream — a source fetch, the store joins — runs again."""
        both = self.tagged().localCheckpoint(eager=True)
        return Diff(
            both.filter(F.col("__added")).drop("__added"),
            both.filter(~F.col("__added")).drop("__added"),
        )


class StatementStore:
    def __init__(self, quads: DataFrame):
        missing = set(QUAD_COLUMNS) - set(quads.columns)
        if missing:
            raise ValueError(f"quads missing columns: {sorted(missing)}")
        self.quads = quads.select(*QUAD_COLUMNS)

    # -- reads ----------------------------------------------------------------

    def graph(self, graph: str) -> DataFrame:
        return self.quads.filter(F.col("graph") == graph)

    def negations(self) -> DataFrame:
        """Asserted negations as (subject, negated-predicate, object).

        Includes the special pair (Negation.scala:21-23): an asserted
        personal:differentFrom blocks the matching personal:sameAs from
        synchronization re-add, and vice versa."""
        from .model import negate_col
        from . import vocab

        prefixed = self.quads.filter(F.col("predicate").startswith(NEG_PREFIX)).select(
            F.col("subject"),
            F.expr(f"substring(predicate, {len(NEG_PREFIX) + 1})").alias("predicate"),
            F.col("object_value"),
            F.col("object_type"),
        )
        special = self.quads.filter(
            F.col("predicate").isin(vocab.SAME_AS, vocab.DIFFERENT_FROM)
        ).select(
            F.col("subject"),
            negate_col(F.col("predicate")).alias("predicate"),
            F.col("object_value"),
            F.col("object_type"),
        )
        return prefixed.unionByName(special)

    # -- writes (functional: return (new_store, diff)) ------------------------

    def add_document(self, graph: str, statements: DataFrame) -> tuple["StatementStore", Diff]:
        """Replace the contents of ``graph`` with ``statements``.

        Returns the new store and the effective diff. Adds that duplicate a
        triple present in another context, or that are negated, are filtered
        out of both the store and the diff.
        """
        return self.add_documents(
            statements.withColumn("graph", F.lit(graph)), graphs=[graph]
        )

    def add_documents(
        self, quads: DataFrame, graphs: list[str] | DataFrame | None = None
    ) -> tuple["StatementStore", Diff]:
        """Replace EVERY named graph present in ``quads``, in one set of joins.

        Batch form of the reference's per-document replace (Pipeline.scala:
        61-93 run once per delivered document): a micro-batch of n re-delivered
        documents is ingested with O(1) Spark jobs, not n sequential job
        chains. Cross-context dedup is defined against the post-batch state —
        an add is skipped if its (s,p,o):

        - exists in a graph outside the batch, or
        - is kept (unchanged) by another batch graph, or
        - is also added by a lexicographically smaller batch graph (the
          deterministic stand-in for the reference's sequential doc order), or
        - has an asserted negation quad.

        ``graphs``: extra graph IRIs to treat as (re)delivered even when the
        batch carries no rows for them — an EMPTY re-delivery must still
        clear its graph (the reference replaces with the empty set too).
        Accepts a list of IRIs or a single-column ``graph`` DataFrame (the
        synchronizer delta path stays fully distributed with the latter).
        """
        new = quads.select(*QUAD_COLUMNS).dropDuplicates(list(QUAD_COLUMNS))
        batch_graphs = new.select("graph").distinct()
        if isinstance(graphs, DataFrame):
            batch_graphs = batch_graphs.unionByName(graphs.select("graph")).distinct()
        elif graphs:
            extra = quads.sparkSession.createDataFrame(
                [(g,) for g in graphs], "graph string"
            )
            batch_graphs = batch_graphs.unionByName(extra).distinct()
        current = self.quads.join(batch_graphs, on="graph", how="left_semi").select(
            *QUAD_COLUMNS
        )
        added = _anti(new, current, QUAD_COLUMNS)
        removed = _anti(current, new, QUAD_COLUMNS)

        # (1) cross-context dedup vs graphs not in this batch (their content
        # is unchanged by the batch, so pre-state == post-state)
        elsewhere = (
            self.quads.join(batch_graphs, on="graph", how="left_anti")
            .select(*SPO)
            .dropDuplicates()
        )
        added = _anti(added, elsewhere, SPO)
        # (2) dedup vs triples kept unchanged by OTHER batch graphs
        kept = _semi(new, current, QUAD_COLUMNS).select(*SPO, "graph")
        added = _anti(added, kept, SPO, F.col("l.graph") != F.col("r.graph"))
        # (3) among adds of the same triple in several batch graphs, the
        # smallest graph IRI wins (order-free analogue of sequential ingest)
        winner = added.groupBy(*SPO).agg(F.min("graph").alias("graph"))
        added = _semi(added, winner, (*SPO, "graph"))
        # (4) negation filter: skip adds with an asserted negation
        added = _anti(
            added, self.negations(), ["subject", "predicate", "object_value", "object_type"]
        )

        new_quads = _anti(self.quads, removed, QUAD_COLUMNS).unionByName(added)
        return StatementStore(new_quads), Diff(added, removed)

    def apply_diff(self, diff: Diff) -> "StatementStore":
        """Apply an enricher diff: remove then add (idempotent on re-apply)."""
        quads = (
            _anti(self.quads, diff.removed.select(*QUAD_COLUMNS), QUAD_COLUMNS)
            .unionByName(diff.added.select(*QUAD_COLUMNS))
            .dropDuplicates(list(QUAD_COLUMNS))
        )
        return StatementStore(quads)

    def materialize(self) -> "StatementStore":
        """Cut lineage (localCheckpoint). Functional updates stack anti-joins;
        without periodic materialization an ingest loop re-executes the whole
        history on every action. The durable deployment shape is a Delta
        table + MERGE, where each commit is naturally materialized."""
        return StatementStore(self.quads.localCheckpoint(eager=True))
