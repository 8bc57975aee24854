"""Incremental synchronizer state tests: UID/etag snapshot diffing, the
UID-validity reset path, a full multi-round sync through the store's
graph-replace semantics (reference EmailSynchronizer.scala:460-527,
BaseDavSynchronizer.scala:130-195), and supervisor sync rounds that fetch
each item once and keep lineage bounded."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import QUAD_SCHEMA, empty_quads
from thymeflow_back_spark.rdf.store import StatementStore
from thymeflow_back_spark.sources.sync_state import (
    dav_snapshot,
    fetch_pass,
    imap_snapshot,
    snapshot_delta,
)
from thymeflow_back_spark.sources.synchronizers import EmailSynchronizer
from thymeflow_back_spark.supervisor import Supervisor


def _keys(df):
    return {(r.collection, r.item_id) for r in df.collect()}


def test_imap_delta_add_remove(spark):
    prev = imap_snapshot(spark, {("acc", "imap://inbox"): (1, [1, 2, 3])})
    cur = imap_snapshot(spark, {("acc", "imap://inbox"): (1, [2, 3, 4, 5])})
    delta = snapshot_delta(prev, cur)
    assert _keys(delta.to_fetch) == {("imap://inbox", "4"), ("imap://inbox", "5")}
    assert _keys(delta.to_remove) == {("imap://inbox", "1")}


def test_imap_uid_validity_reset_replaces_folder(spark):
    prev = imap_snapshot(spark, {("acc", "imap://inbox"): (1, [1, 2])})
    cur = imap_snapshot(spark, {("acc", "imap://inbox"): (2, [1, 7])})
    delta = snapshot_delta(prev, cur)
    # whole folder invalidated: every old message removed, every current re-fetched
    assert _keys(delta.to_remove) == {("imap://inbox", "1"), ("imap://inbox", "2")}
    assert _keys(delta.to_fetch) == {("imap://inbox", "1"), ("imap://inbox", "7")}


def test_disappeared_folder_removes_all_items(spark):
    prev = imap_snapshot(
        spark, {("acc", "imap://inbox"): (1, [1]), ("acc", "imap://old"): (9, [5, 6])}
    )
    cur = imap_snapshot(spark, {("acc", "imap://inbox"): (1, [1])})
    delta = snapshot_delta(prev, cur)
    assert _keys(delta.to_fetch) == set()
    assert _keys(delta.to_remove) == {("imap://old", "5"), ("imap://old", "6")}


def test_dav_etag_change_triggers_refetch_not_remove(spark):
    prev = dav_snapshot(
        spark, {("acc", "dav://cal/"): [("a.ics", "e1"), ("b.ics", "e2")]}
    )
    cur = dav_snapshot(
        spark, {("acc", "dav://cal/"): [("a.ics", "e1"), ("b.ics", "e9"), ("c.ics", "e3")]}
    )
    delta = snapshot_delta(prev, cur)
    assert _keys(delta.to_fetch) == {("dav://cal/", "b.ics"), ("dav://cal/", "c.ics")}
    assert _keys(delta.to_remove) == set()


def _fake_server_fetcher(payloads: dict[str, str]):
    """Executor-side fetcher: item -> one quad carrying the payload as a name."""

    def fetch(batch: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, r in batch.iterrows():
            graph = f"{r['collection']}#{r['item_id']}"
            body = payloads[r["item_id"]]
            rows.append(
                (
                    f"urn:item:{r['item_id']}",
                    "http://schema.org/name",
                    body,
                    "literal",
                    "http://www.w3.org/2001/XMLSchema#string",
                    None,
                    graph,
                )
            )
        return pd.DataFrame(rows, columns=list(QUAD_SCHEMA.names))

    return fetch


def test_multi_round_sync_through_store(spark):
    empty = StatementStore(spark.createDataFrame([], QUAD_SCHEMA))
    none = imap_snapshot(spark, {})

    # round 1: initial full sync of 2 messages
    cur1 = imap_snapshot(spark, {("acc", "imap://inbox"): (1, [1, 2])})
    quads, graphs = fetch_pass(none, cur1, _fake_server_fetcher({"1": "one", "2": "two"}))
    store, diff = empty.add_documents(quads, graphs=graphs)
    store = store.materialize()
    assert store.quads.count() == 2
    assert diff.added.count() == 2 and diff.removed.count() == 0

    # round 2: message 1 deleted, message 3 arrives, message 2 unchanged
    cur2 = imap_snapshot(spark, {("acc", "imap://inbox"): (1, [2, 3])})
    quads, graphs = fetch_pass(cur1, cur2, _fake_server_fetcher({"2": "two", "3": "three"}))
    store, diff = store.add_documents(quads, graphs=graphs)
    store = store.materialize()
    values = {r.object_value for r in store.quads.collect()}
    assert values == {"two", "three"}
    # incremental: only msg 3 was fetched/added, only msg 1's graph touched
    assert {r.object_value for r in diff.added.collect()} == {"three"}
    assert {r.object_value for r in diff.removed.collect()} == {"one"}

    # round 3: UID-validity reset — same UIDs, changed content server-side
    cur3 = imap_snapshot(spark, {("acc", "imap://inbox"): (2, [2, 3])})
    quads, graphs = fetch_pass(cur2, cur3, _fake_server_fetcher({"2": "TWO'", "3": "three"}))
    store, diff = store.add_documents(quads, graphs=graphs)
    store = store.materialize()
    values = {r.object_value for r in store.quads.collect()}
    assert values == {"TWO'", "three"}
    # graph replace is idempotent: unchanged msg-3 content survives as-is
    assert {r.object_value for r in diff.added.collect()} == {"TWO'"}
    assert {r.object_value for r in diff.removed.collect()} == {"two"}


def test_dav_changed_etag_replaces_document_graph(spark):
    empty = StatementStore(spark.createDataFrame([], QUAD_SCHEMA))
    none = dav_snapshot(spark, {})
    cur1 = dav_snapshot(spark, {("acc", "dav://card/"): [("a.vcf", "e1")]})
    quads, graphs = fetch_pass(none, cur1, _fake_server_fetcher({"a.vcf": "Alice"}))
    store, _ = empty.add_documents(quads, graphs=graphs)
    store = store.materialize()

    cur2 = dav_snapshot(spark, {("acc", "dav://card/"): [("a.vcf", "e2")]})
    quads, graphs = fetch_pass(cur1, cur2, _fake_server_fetcher({"a.vcf": "Alicia"}))
    store, diff = store.add_documents(quads, graphs=graphs)
    assert {r.object_value for r in store.quads.collect()} == {"Alicia"}
    assert {r.object_value for r in diff.removed.collect()} == {"Alice"}


# --- supervisor rounds: fetch once, materialize once, bounded lineage ---------

INBOX = "imap://acc/INBOX"


class _ChangingImap:
    """Picklable IMAP transport whose payload changes on every fetch. Each
    fetched message is appended to a log file (the fetch runs in executor
    processes), and its subject carries the log length at that moment."""

    def __init__(self, log_path: str, uids: list[int]):
        self.log_path, self.uids = log_path, uids

    def folders(self):
        return {INBOX: (1, sorted(self.uids))}

    def fetch(self, folder_url, uids):
        out = []
        for uid in uids:
            with open(self.log_path, "a") as fh:
                fh.write(f"{uid}\n")
            subject = f"v{len(self.fetches())}"
            out.append((uid, _eml(uid, subject)))
        return out

    def fetches(self) -> list[str]:
        try:
            with open(self.log_path) as fh:
                return fh.read().split()
        except FileNotFoundError:
            return []


def _eml(uid, subject: str) -> bytes:
    return (
        f"From: Alice <alice@example.org>\r\nTo: Bob <bob@example.org>\r\n"
        f"Subject: {subject}\r\nMessage-ID: <m{uid}@example.org>\r\n"
        f"Date: Mon, 02 Feb 2026 10:00:00 +0000\r\n\r\nbody {uid}\r\n"
    ).encode()


def _supervised(spark, transport):
    sup = Supervisor(spark, StatementStore(empty_quads(spark)))
    synchronizer = EmailSynchronizer(spark, "acc", transport)
    return sup, sup.add_service_account("Email", "bob", {"inbox": synchronizer})["inbox"]


def _headlines(df):
    return {
        (r.graph, r.object_value)
        for r in df.filter(F.col("predicate") == vocab.HEADLINE).collect()
    }


def _links(df, source):
    return {
        r.subject
        for r in df.filter(
            (F.col("predicate") == vocab.DOCUMENT_OF) & (F.col("object_value") == source)
        ).collect()
    }


def test_sync_round_fetches_each_item_once(spark, tmp_path):
    """The store, the round's diff and the documentOf links all come from
    one fetch per item, even though every fetch returns a new payload."""
    imap = _ChangingImap(str(tmp_path / "fetches"), [1, 2])
    sup, source = _supervised(spark, imap)
    diff = sup.sync_all()

    stored = _headlines(sup.store.quads)
    assert {g for g, _ in stored} == {f"{INBOX}#1", f"{INBOX}#2"}
    assert _headlines(diff.added) == stored
    assert _links(sup.store.quads, source) == _links(diff.added, source) == {g for g, _ in stored}
    # read everything again: still one fetch per item, and its payload is the stored one
    assert _headlines(diff.added) == _headlines(sup.store.quads) == stored
    assert sorted(imap.fetches()) == ["1", "2"]
    assert {v for _, v in stored} <= {"v1", "v2"}


def _plan_length(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().toString())


def test_incremental_rounds_materialize_once_with_bounded_lineage(spark, tmp_path, monkeypatch):
    """Five rounds, each adding one mail and deleting one: one
    materialization per round, and neither the store's plan nor the
    round diff's plan grows with the round number."""
    imap = _ChangingImap(str(tmp_path / "fetches"), [1])
    sup, source = _supervised(spark, imap)
    sup.sync_all()

    calls = []
    materialize = StatementStore.materialize
    monkeypatch.setattr(
        StatementStore, "materialize", lambda self: calls.append(1) or materialize(self)
    )
    store_plans, diff_plans = [], []
    for uid in range(2, 7):
        imap.uids = [uid]
        calls.clear()
        diff = sup.sync_source(source)
        assert len(calls) == 1
        store_plans.append(_plan_length(sup.store.quads))
        diff_plans.append(_plan_length(diff.added) + _plan_length(diff.removed))
        assert {g for g, _ in _headlines(sup.store.quads)} == {f"{INBOX}#{uid}"}
        assert _links(sup.store.quads, source) == {f"{INBOX}#{uid}"}
    assert max(store_plans) <= store_plans[0] + 50
    assert max(diff_plans) <= diff_plans[0] + 200
    assert len(imap.fetches()) == 6
