"""Supervisor: service-account-source registry + synchronizer orchestration.

Parity with reference Supervisor.scala:42-116 and the §1.4 metadata model:

- ``add_service_account`` commits the Service → Account → Source tree as
  quads in ``personal:serviceGraph`` (Supervisor.scala:63-94) and hands
  each source a deterministic IRI.
- ``sync_all`` runs one sync round over every registered source, and
  ``sync_source`` a round over one. A round fetches each source's delta
  once (pinned; snapshot state kept per source), replaces every delivered
  document graph with ONE ``add_documents``, links each graph to its
  source with ``personal:documentOf`` (FileSynchronizer.scala:263-272,
  EmailSynchronizer.scala:644-659) in the same single materialization, and
  runs the enricher chain once over the round's diff — the
  ``source → repositoryInsertion → enricher-flow`` pipeline of
  Pipeline.scala:37-42 (``enrichers.pipeline.ingest``), with Spark jobs in
  place of Akka stages.

The metadata tree is tiny (graphs are data-scale, the tree is
accounts-scale), so it rides in the same quads table under the reserved
graph — queries against it are ordinary pattern scans.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .enrichers.pipeline import ingest
from .rdf import vocab
from .rdf.model import QUAD_SCHEMA, local_relation
from .rdf.store import Diff, StatementStore
from .sources.common import mint
from .sources.sync_state import snapshot


def _meta_quads(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return local_relation(
        spark,
        [(s, p, o, otype, None, None, vocab.SERVICE_GRAPH) for s, p, o, otype in rows],
        QUAD_SCHEMA,
    )


def _links(graph_source: DataFrame) -> DataFrame:
    """(graph, source) rows → ``graph personal:documentOf source`` quads."""
    return graph_source.select(
        F.col("graph").alias("subject"),
        F.lit(vocab.DOCUMENT_OF).alias("predicate"),
        F.col("source").alias("object_value"),
        F.lit("iri").alias("object_type"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit(vocab.SERVICE_GRAPH).alias("graph"),
    )


def _document_of(store: StatementStore, diff: Diff, owners: DataFrame) -> Diff:
    """personal:documentOf metadata for a round's document diff: a link for
    every graph the round delivered quads to, and the link's retraction for
    every graph it emptied (the document was removed by its source).
    ``owners`` maps each replaced graph to its source IRI."""
    delivered = diff.added.select("graph").distinct()
    left = store.apply_diff(diff).quads.select("graph").distinct()
    gone = diff.removed.select("graph").distinct().join(left, "graph", "left_anti")
    return Diff(
        added=_links(delivered.join(owners, "graph")),
        removed=_links(gone.join(owners, "graph")),
    )


def documents_per_source(store: StatementStore) -> DataFrame:
    """(source, source_name, n_documents) from the metadata tree
    (DataServicesService.scala:25-49 shape)."""
    meta = store.quads.filter(F.col("graph") == vocab.SERVICE_GRAPH)
    docs = meta.filter(F.col("predicate") == vocab.DOCUMENT_OF).select(
        F.col("subject").alias("document"), F.col("object_value").alias("source")
    )
    names = meta.filter(F.col("predicate") == vocab.NAME).select(
        F.col("subject").alias("source"), F.col("object_value").alias("source_name")
    )
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_documents"))
        .join(F.broadcast(names), "source", "left")
        .select("source", "source_name", "n_documents")
    )


@dataclass
class _Source:
    iri: str
    synchronizer: object
    snapshot: DataFrame | None = None


@dataclass
class Supervisor:
    spark: SparkSession
    store: StatementStore
    enrichers: list = field(default_factory=list)

    def __post_init__(self):
        self._sources: dict[str, _Source] = {}

    # -- registration (AddServiceAccount, Supervisor.scala:111-116)

    def add_service_account(
        self, service_name: str, account_name: str, sources: dict[str, object]
    ) -> dict[str, str]:
        """Register an account and its synchronizers; commit the metadata
        tree; return {source_name: source_iri}."""
        service = mint("service", service_name)
        account = mint("account", f"{service_name}:{account_name}")
        rows = [
            (service, vocab.RDF_TYPE, vocab.SERVICE, "iri"),
            (service, vocab.NAME, service_name, "literal"),
            (account, vocab.RDF_TYPE, vocab.SERVICE_ACCOUNT, "iri"),
            (account, vocab.NAME, account_name, "literal"),
            (account, vocab.ACCOUNT_OF, service, "iri"),
        ]
        iris: dict[str, str] = {}
        for name, synchronizer in sources.items():
            source = mint("source", f"{service_name}:{account_name}:{name}")
            iris[name] = source
            rows += [
                (source, vocab.RDF_TYPE, vocab.SERVICE_SOURCE, "iri"),
                (source, vocab.NAME, name, "literal"),
                (source, vocab.SOURCE_OF, account, "iri"),
            ]
            self._sources[source] = _Source(iri=source, synchronizer=synchronizer)
        self.store = self.store.apply_diff(
            Diff(added=_meta_quads(self.spark, rows), removed=self.store.quads.limit(0))
        ).materialize()
        return iris

    # -- synchronization

    def sync_source(self, source_iri: str) -> Diff:
        """One sync round over one source (see ``_round``)."""
        return self._round([source_iri])

    def sync_all(self) -> Diff:
        """One sync round over every registered source (see ``_round``)."""
        return self._round(list(self._sources))

    def _round(self, source_iris: list[str]) -> Diff:
        """Fetch each source's delta once, ingest all of them with one
        document replace and one materialization (documentOf links
        included), run the enricher chain once over the round's diff, and
        return that diff. Snapshots advance only once the round is in."""
        if not source_iris:
            return Diff(self.store.quads.limit(0), self.store.quads.limit(0))
        quads, owners, snapshots = [], [], {}
        for iri in source_iris:
            reg = self._sources[iri]
            sync = reg.synchronizer
            if hasattr(sync, "current_snapshot"):  # snapshot-CDC synchronizers
                previous = reg.snapshot if reg.snapshot is not None else snapshot(self.spark, [])
                fetched, graphs, snapshots[iri] = sync.fetch(previous)
            else:  # one-document synchronizers (Facebook)
                fetched, graphs = sync.fetch()
            quads.append(fetched)
            owners.append(graphs.select("graph", F.lit(iri).alias("source")))
        owners = reduce(DataFrame.unionByName, owners)
        self.store, diff = ingest(
            self.store,
            reduce(DataFrame.unionByName, quads),
            owners.select("graph"),
            self.enrichers,
            metadata=lambda store, diff: _document_of(store, diff, owners),
        )
        for iri, snap in snapshots.items():
            self._sources[iri].snapshot = snap
        return diff

    # -- metadata queries

    def documents_per_source(self) -> DataFrame:
        """(source, source_name, n_documents) from the metadata tree."""
        return documents_per_source(self.store)
