"""Named synchronizer front-ends: IMAP email (folder skip, UID-validity
reset, incremental add/remove), CardDAV (etag diff, multiget fetch, PUT
write-back with If-Match), CalDAV, and Facebook paged fetch — all against
in-memory fake transports (reference EmailSynchronizer.scala,
BaseDavSynchronizer.scala:130-240, FacebookSynchronizer.scala)."""

from __future__ import annotations
import pytest

# IMAP/DAV/Graph-API sync protocol e2e (quick tier keeps test_sync_state + the q_sync_delta oracle row)
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import empty_quads
from thymeflow_back_spark.rdf.store import Diff, StatementStore
from thymeflow_back_spark.sources.synchronizers import (
    CalDavSynchronizer,
    CardDavSynchronizer,
    EmailSynchronizer,
    FacebookSynchronizer,
)
from thymeflow_back_spark.update.updater import apply_update

EML_A = b"""From: Alice <alice@example.org>\r
To: Bob <bob@example.org>\r
Subject: hello\r
Message-ID: <a1@example.org>\r
Date: Mon, 02 Feb 2026 10:00:00 +0000\r
\r
hi bob
"""

EML_B = b"""From: Bob <bob@example.org>\r
To: Alice <alice@example.org>\r
Subject: re: hello\r
Message-ID: <b1@example.org>\r
Date: Mon, 02 Feb 2026 11:00:00 +0000\r
\r
hi alice
"""


class FakeImap:
    """Dict-backed picklable IMAP transport."""

    def __init__(self, state: dict[str, tuple[int, dict[int, bytes]]]):
        self.state = state

    def folders(self):
        return {
            folder: (validity, sorted(msgs))
            for folder, (validity, msgs) in self.state.items()
        }

    def fetch(self, folder_url, uids):
        _, msgs = self.state[folder_url]
        return [(uid, msgs[int(uid)]) for uid in uids if int(uid) in msgs]


def _graphs(store: StatementStore) -> set[str]:
    return {r.graph for r in store.quads.select("graph").distinct().collect()}


def test_email_synchronizer_incremental(spark):
    inbox = "imap://acc/INBOX"
    junk = "imap://acc/Junk"
    transport = FakeImap(
        {inbox: (1, {1: EML_A, 2: EML_B}), junk: (1, {9: EML_A})}
    )
    sync = EmailSynchronizer(spark, "acc", transport)
    store = StatementStore(empty_quads(spark))
    prev = sync.current_snapshot().limit(0)

    store, diff, snap = sync.sync(store, prev)
    # Junk folder skipped (reference skips Junk/Spam/Deleted)
    assert _graphs(store) == {f"{inbox}#1", f"{inbox}#2"}
    assert store.quads.filter(F.col("predicate") == vocab.EMAIL).count() > 0
    subjects = {
        r.object_value
        for r in store.quads.filter(F.col("predicate") == vocab.HEADLINE).collect()
    }
    assert subjects == {"hello", "re: hello"}

    # second pass: message 1 deleted, message 3 arrives
    transport.state[inbox] = (1, {2: EML_B, 3: EML_A})
    store, diff, snap = sync.sync(store, snap)
    assert _graphs(store) == {f"{inbox}#2", f"{inbox}#3"}
    # idempotent third pass: no changes
    store2, diff, _ = sync.sync(store, sync.current_snapshot())
    assert diff.added.count() == 0 and diff.removed.count() == 0


def test_email_uid_validity_reset(spark):
    inbox = "imap://acc/INBOX"
    transport = FakeImap({inbox: (1, {1: EML_A})})
    sync = EmailSynchronizer(spark, "acc", transport)
    store = StatementStore(empty_quads(spark))
    store, _, snap = sync.sync(store, sync.current_snapshot().limit(0))
    n_before = store.quads.count()

    # validity bump with same UID: whole folder is re-delivered
    transport.state[inbox] = (2, {1: EML_A})
    store, diff, _ = sync.sync(store, snap)
    assert _graphs(store) == {f"{inbox}#1"}
    assert store.quads.count() == n_before
    # replacement is idempotent: same content re-delivered = empty diff
    assert diff.added.count() == 0 and diff.removed.count() == 0


VCF_1 = b"""BEGIN:VCARD
VERSION:4.0
UID:c-1
FN:Alice Wonders
TEL;TYPE=cell:+1 607 555 0100
END:VCARD
"""

VCF_2 = b"""BEGIN:VCARD
VERSION:4.0
UID:c-2
FN:Bob Builder
END:VCARD
"""


class FakeDav:
    """Dict-backed picklable DAV server: {directory: {path: (etag, body)}}."""

    def __init__(self, state: dict[str, dict[str, tuple[str, bytes]]]):
        self.state = state
        self.multiget_sizes: list[int] = []

    def report(self, directory):
        return [(p, etag) for p, (etag, _) in sorted(self.state[directory].items())]

    def multiget(self, directory, paths):
        self.multiget_sizes.append(len(paths))
        return [
            (p, *self.state[directory][p][:1], self.state[directory][p][1])
            for p in paths
            if p in self.state[directory]
        ]

    def get(self, directory, path):
        return self.state[directory][path]

    def put(self, directory, path, body, if_match):
        etag, _ = self.state[directory][path]
        if etag != if_match:
            return None  # lost the etag race
        new_etag = f"{etag}+1"
        self.state[directory][path] = (new_etag, body)
        return new_etag


def test_carddav_sync_and_etag_refetch(spark):
    directory = "dav://acc/contacts/"
    transport = FakeDav({directory: {"a.vcf": ("e1", VCF_1), "b.vcf": ("e2", VCF_2)}})
    sync = CardDavSynchronizer(spark, "acc", [directory], transport)
    store = StatementStore(empty_quads(spark))
    store, _, snap = sync.sync(store, sync.current_snapshot().limit(0))
    assert _graphs(store) == {f"{directory}#a.vcf", f"{directory}#b.vcf"}
    names = {r.object_value for r in store.quads.filter(F.col("predicate") == vocab.NAME).collect()}
    assert "Alice Wonders" in names and "Bob Builder" in names

    # etag change on a.vcf: only that resource is re-fetched; content replaces
    transport.state[directory]["a.vcf"] = (
        "e9",
        VCF_1.replace(b"Alice Wonders", b"Alice W."),
    )
    store, diff, _ = sync.sync(store, snap)
    names = {r.object_value for r in store.quads.filter(F.col("predicate") == vocab.NAME).collect()}
    assert "Alice W." in names and "Alice Wonders" not in names
    # the unchanged b.vcf was not re-delivered
    assert diff.added.filter(F.col("graph") == f"{directory}#b.vcf").count() == 0


def test_carddav_write_back_put(spark):
    directory = "dav://acc/contacts/"
    transport = FakeDav({directory: {"a.vcf": ("e1", VCF_1)}})
    sync = CardDavSynchronizer(spark, "acc", [directory], transport)
    store = StatementStore(empty_quads(spark))
    store, _, snap = sync.sync(store, sync.current_snapshot().limit(0))
    graph = f"{directory}#a.vcf"
    card = "urn:contact:c-1"

    adds = store.quads.limit(0).sparkSession.createDataFrame(
        [(card, vocab.EMAIL, "mailto:alice@example.org", "iri", None, None, graph)],
        store.quads.schema,
    )
    updated = apply_update(
        store,
        Diff(added=adds, removed=store.quads.limit(0)),
        synchronized_graph_prefix="dav://",
        write_back=sync.write_back,
    )
    # the server's vCard text now carries the new EMAIL line
    _, body = transport.state[directory]["a.vcf"]
    assert b"EMAIL:alice@example.org" in body
    assert updated.quads.filter(
        (F.col("predicate") == vocab.EMAIL) & (F.col("graph") == graph)
    ).count() == 1


def test_carddav_write_back_etag_conflict_asserts_negation(spark):
    directory = "dav://acc/contacts/"
    transport = FakeDav({directory: {"a.vcf": ("e1", VCF_1)}})
    sync = CardDavSynchronizer(spark, "acc", [directory], transport)
    store = StatementStore(empty_quads(spark))
    store, _, snap = sync.sync(store, sync.current_snapshot().limit(0))
    graph = f"{directory}#a.vcf"
    card = "urn:contact:c-1"

    class Racy(FakeDav):
        def put(self, directory, path, body, if_match):
            return None  # concurrent editor always wins

    sync.transport = Racy(transport.state)
    removes = store.quads.filter(
        (F.col("subject") == card) & (F.col("predicate") == vocab.TELEPHONE)
    )
    updated = apply_update(
        store,
        Diff(added=store.quads.limit(0), removed=removes),
        synchronized_graph_prefix="dav://",
        write_back=sync.write_back,
    )
    # removal applied locally anyway, negation asserted so re-sync won't resurrect
    assert updated.quads.filter(
        (F.col("subject") == card) & (F.col("predicate") == vocab.TELEPHONE)
    ).count() == 0
    assert updated.negations().filter(F.col("subject") == card).count() == 1


def test_caldav_sync_and_write_back(spark):
    directory = "dav://acc/cal/"
    ics = b"""BEGIN:VCALENDAR
BEGIN:VEVENT
UID:e-1
SUMMARY:Standup
DTSTART:20260601T090000Z
DTEND:20260601T091500Z
END:VEVENT
END:VCALENDAR
"""
    transport = FakeDav({directory: {"cal.ics": ("e1", ics)}})
    sync = CalDavSynchronizer(spark, "acc", [directory], transport)
    store = StatementStore(empty_quads(spark))
    store, _, _ = sync.sync(store, sync.current_snapshot().limit(0))
    assert store.quads.filter(F.col("object_value") == "Standup").count() == 1

    # rename the event through the write-back path (remove+add = replace)
    graph = f"{directory}#cal.ics"
    ev = "urn:event:e-1"
    removes = [(ev, vocab.NAME, "Standup")]
    assert sync.write_back(graph, [(ev, vocab.NAME, "Planning")], removes) is True
    _, body = transport.state[directory]["cal.ics"]
    assert b"SUMMARY:Planning" in body and b"SUMMARY:Standup" not in body
    assert b"DTSTART:20260601T090000Z" in body  # untouched property survives
    # VCALENDAR wrapper preserved
    assert body.startswith(b"BEGIN:VCALENDAR") and body.rstrip().endswith(b"END:VCALENDAR")
    # unsupported predicate → rejected → write_back False
    assert sync.write_back(graph, [(ev, "urn:unsupported", "x")], []) is False


class FakePagedGraphApi:
    """Paged Graph API: every endpoint yields two pages."""

    def pages(self, path):
        if path == "me":
            yield {"id": "100001", "first_name": "Ada"}
            yield {"last_name": "Lovelace", "email": "ada@example.org"}
        elif path == "me/events":
            yield {"data": [{"id": "300003", "name": "Demo Day"}]}
            yield {"data": [{"id": "300004", "name": "Launch"}]}
        elif path == "me/taggable_friends":
            yield {"data": [{"id": "200002", "name": "Charles Babbage"}]}
            yield {"data": []}


def test_facebook_synchronizer_folds_pages(spark):
    sync = FacebookSynchronizer(spark, "acc", FakePagedGraphApi())
    store = StatementStore(empty_quads(spark))
    store, diff = sync.sync(store)
    values = {r.object_value for r in store.quads.collect()}
    assert {"Ada", "Lovelace", "Demo Day", "Launch", "Charles Babbage"} <= values
    assert "mailto:ada@example.org" in values
    # one document graph for the whole export
    assert store.quads.select("graph").distinct().count() == 1
    # re-sync is idempotent
    store2, diff2 = sync.sync(store)
    assert diff2.added.count() == 0 and diff2.removed.count() == 0
