"""Named synchronizer front-ends: IMAP email, CalDAV/CardDAV, Facebook.

Reference parity (SURVEY.md §2.1):

- ``EmailSynchronizer`` — incremental IMAP sync (reference
  EmailSynchronizer.scala:41-60, 460-471, 520-527): per-folder UID listing
  with UID-validity, Junk/Spam/Deleted/Trash folders skipped, add/remove
  deltas from the stored snapshot, bounded fetch batches (512 — the
  reference's fetch buffer cap), UID-validity change = whole-folder
  replace.
- ``CardDavSynchronizer`` / ``CalDavSynchronizer`` — WebDAV sync
  (BaseDavSynchronizer.scala:130-240): etag REPORT diff, multiget batches
  of 100, and PUT write-back with If-Match (CardDAV applies diffs onto the
  vCard text via ``vcard_apply_diff``; an etag conflict or rejected
  statement fails the write-back, which the Updater turns into
  negation/user-graph routing, Updater.scala:47-75).
- ``FacebookSynchronizer`` — Graph API paged fetch of me/friends/events
  (FacebookSynchronizer.scala, ~156 LoC) folded into one export document.

Each synchronizer's ``fetch`` is the source side of a pass: it returns
the fetched quads and the document graphs they replace, pinned, and leaves
the store alone, so the supervisor can ingest every source of a round at
once. ``sync`` is ``fetch`` followed by the store's document replace.

Transports are injectable and must be PICKLABLE: item fetching runs
executor-side through ``sync_state.fetch_quads`` (mapInPandas), the Spark
analogue of the reference's parallel fetcher connections. The listing
(metadata-only) is driver-side — it is tiny relative to payloads, exactly
the part the reference also runs on the control connection.

Scale: a 1000-executor cluster syncing millions of mailboxes keeps the
snapshot as a table; ``snapshot_delta`` is two anti-joins on
(source, collection, item_id); only the delta's payloads move. Nothing
here collects quad data to the driver.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..rdf.model import QUAD_COLUMNS, QUAD_SCHEMA, local_relation
from ..rdf.store import Diff, StatementStore
from .eml import eml_to_quads
from .facebook import facebook_to_quads
from .ical import ical_apply_diff, ical_to_quads
from .sync_state import dav_snapshot, fetch_pass, imap_snapshot
from .vcard import vcard_apply_diff, vcard_to_quads

# ---------------------------------------------------------------------------
# IMAP email


class EmailTransport(Protocol):
    """Injectable IMAP access. Implementations must be picklable."""

    def folders(self) -> dict[str, tuple[int, list[int]]]:
        """folder_url -> (uid_validity, [uid, ...])."""
        ...

    def fetch(self, folder_url: str, uids: list[str]) -> list[tuple[str, bytes]]:
        """[(uid, raw RFC822 bytes), ...] for the requested messages."""
        ...


_SKIP_FOLDER = re.compile(r"(?:^|/)(junk|spam|deleted|trash)(?:$|/)", re.IGNORECASE)

EMAIL_FETCH_BATCH = 512  # reference fetch-buffer cap (EmailSynchronizer.scala:41-42)


def _item_doc_quads(
    converter: Callable[[bytes, str], list[tuple]], raw: bytes, graph: str
) -> list[tuple]:
    """Convert one payload and rehome every quad into the item's document
    graph (doc_iri convention: collection + '#' + item_id — the reference
    uses the artifact URL as the document IRI)."""
    return [(*row[:6], graph) for row in converter(raw, graph)]


class _SnapshotSynchronizer:
    """A pass of snapshot CDC: list, diff against the previous snapshot,
    fetch the delta in batches of ``fetch_batch``."""

    fetch_batch: int  # subclasses also define current_snapshot() and _fetcher()

    def fetch(self, previous: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(pinned quads, replaced graphs, next snapshot) — the store is untouched."""
        current = self.current_snapshot()
        return (*fetch_pass(previous, current, self._fetcher(), self.fetch_batch), current)

    def sync(
        self, store: StatementStore, previous: DataFrame
    ) -> tuple[StatementStore, Diff, DataFrame]:
        quads, graphs, current = self.fetch(previous)
        return (*store.add_documents(quads, graphs=graphs), current)


class EmailSynchronizer(_SnapshotSynchronizer):
    """Incremental IMAP synchronizer over the snapshot-CDC machinery."""

    fetch_batch = EMAIL_FETCH_BATCH

    def __init__(self, spark: SparkSession, source: str, transport: EmailTransport):
        self.spark = spark
        self.source = source
        self.transport = transport

    def current_snapshot(self) -> DataFrame:
        listing = {
            (self.source, folder): state
            for folder, state in self.transport.folders().items()
            if not _SKIP_FOLDER.search(folder)
        }
        return imap_snapshot(self.spark, listing)

    def _fetcher(self):
        transport = self.transport

        def fetch(chunk: pd.DataFrame) -> pd.DataFrame:
            rows: list[tuple] = []
            for folder, group in chunk.groupby("collection"):
                uids = group["item_id"].tolist()
                for uid, raw in transport.fetch(folder, uids):
                    rows.extend(_item_doc_quads(eml_to_quads, raw, f"{folder}#{uid}"))
            return pd.DataFrame(rows, columns=list(QUAD_COLUMNS))

        return fetch


# ---------------------------------------------------------------------------
# WebDAV (CardDAV / CalDAV)


class DavTransport(Protocol):
    """Injectable WebDAV access. Implementations must be picklable."""

    def report(self, directory: str) -> list[tuple[str, str]]:
        """[(resource path, etag), ...] — the etag REPORT."""
        ...

    def multiget(self, directory: str, paths: list[str]) -> list[tuple[str, str, bytes]]:
        """[(path, etag, body), ...] for the requested resources."""
        ...

    def get(self, directory: str, path: str) -> tuple[str, bytes]:
        """(etag, body) of one resource — the write-back re-fetch."""
        ...

    def put(self, directory: str, path: str, body: bytes, if_match: str) -> str | None:
        """Conditional PUT; new etag, or None on an If-Match conflict."""
        ...


DAV_MULTIGET_BATCH = 100  # BaseDavSynchronizer.scala:130


class BaseDavSynchronizer(_SnapshotSynchronizer):
    """Shared etag-diff sync; subclasses choose the payload converter."""

    converter: Callable[[bytes, str], list[tuple]]
    fetch_batch = DAV_MULTIGET_BATCH

    def __init__(
        self, spark: SparkSession, source: str, directories: list[str], transport: DavTransport
    ):
        self.spark = spark
        self.source = source
        self.directories = directories
        self.transport = transport

    def current_snapshot(self) -> DataFrame:
        listing = {
            (self.source, d): self.transport.report(d) for d in self.directories
        }
        return dav_snapshot(self.spark, listing)

    def _fetcher(self):
        transport = self.transport
        converter = type(self).converter

        def fetch(chunk: pd.DataFrame) -> pd.DataFrame:
            rows: list[tuple] = []
            for directory, group in chunk.groupby("collection"):
                paths = group["item_id"].tolist()
                for path, _etag, body in transport.multiget(directory, paths):
                    rows.extend(_item_doc_quads(converter, body, f"{directory}#{path}"))
            return pd.DataFrame(rows, columns=list(QUAD_COLUMNS))

        return fetch

    def owns_graph(self, graph: str) -> bool:
        return any(graph.startswith(f"{d}#") for d in self.directories)


class _DavWriteBackMixin:
    """Updater WriteBack hook: fetch-current → apply diff onto the resource
    text → conditional PUT (BaseDavSynchronizer.scala:223-240).

    Returns False (→ negation/user-graph routing) when the graph is not
    ours, any statement cannot be expressed in the payload format, or the
    PUT loses the etag race."""

    apply_diff_fn: Callable

    def write_back_rows(
        self,
        graph: str,
        adds: list[tuple[str, str, str]],
        removes: list[tuple[str, str, str]],
    ) -> bool:
        """One graph's adds and removes as (subject, predicate, object_value)
        tuples (the updater collects the update diff in one job and calls
        this per graph — no Spark work in here)."""
        if not self.owns_graph(graph):
            return False
        directory, _, path = graph.rpartition("#")
        etag, body = self.transport.get(directory, path)
        new_text, results = type(self).apply_diff_fn(body.decode("utf-8"), adds, removes)
        if results["rejected"]:
            return False
        return self.transport.put(directory, path, new_text.encode("utf-8"), etag) is not None

    def write_back(self, graph: str, adds: list[tuple], removes: list[tuple]) -> bool:
        """The updater's ``WriteBack``: the bound method an endpoint is
        given. It goes through ``write_back_rows`` so a wrapper installed
        on that name sees every write-back."""
        return self.write_back_rows(graph, adds, removes)


class CalDavSynchronizer(_DavWriteBackMixin, BaseDavSynchronizer):
    """iCalendar directories, with PUT write-back onto the VEVENT text
    (SUMMARY/DTSTART/DTEND/DURATION/URL — ICalConverter applyDiff parity;
    unsupported properties reject and route through negations/userData)."""

    converter = staticmethod(ical_to_quads)
    apply_diff_fn = staticmethod(ical_apply_diff)


class CardDavSynchronizer(_DavWriteBackMixin, BaseDavSynchronizer):
    """vCard directories, with PUT write-back (If-Match etag)."""

    converter = staticmethod(vcard_to_quads)
    apply_diff_fn = staticmethod(vcard_apply_diff)


# ---------------------------------------------------------------------------
# Facebook Graph API


class FacebookTransport(Protocol):
    """Injectable Graph API access (paged)."""

    def pages(self, path: str) -> Iterator[dict]:
        """Yield each page's JSON payload for an endpoint (me, me/events,
        me/taggable_friends), following paging cursors."""
        ...


class FacebookSynchronizer:
    """Paged Graph API fetch folded into one export document per account.

    The reference fetches me + events + taggable friends and emits one
    document (FacebookSynchronizer.scala); pagination happens at fetch
    time. One account's export is small (profile metadata, not payload
    data), so the fold runs driver-side and the resulting document goes
    through the same graph-replace ingest as every other source.
    """

    def __init__(self, spark: SparkSession, account: str, transport: FacebookTransport):
        self.spark = spark
        self.account = account
        self.transport = transport

    def _export(self) -> dict:
        me: dict = {}
        for page in self.transport.pages("me"):
            me.update(page)
        events = [e for page in self.transport.pages("me/events") for e in page.get("data", [])]
        friends = [
            f
            for page in self.transport.pages("me/taggable_friends")
            for f in page.get("data", [])
        ]
        if events:
            me["events"] = {"data": events}
        if friends:
            me["taggable_friends"] = {"data": friends}
        return me

    def fetch(self) -> tuple[DataFrame, DataFrame]:
        """(quads, replaced graphs) of the export document; both empty when
        the export converts to nothing."""
        export = self._export()
        path = f"facebook:{self.account}"
        rows = facebook_to_quads(json.dumps(export).encode("utf-8"), path)
        graph = rows[0][6] if rows else None
        return (
            local_relation(self.spark, [r for r in rows if r[6] == graph], QUAD_SCHEMA),
            local_relation(
                self.spark,
                [(graph,)] if rows else [],
                StructType([StructField("graph", StringType())]),
            ),
        )

    def sync(self, store: StatementStore) -> tuple[StatementStore, Diff]:
        quads, graphs = self.fetch()
        return store.add_documents(quads, graphs=graphs)
