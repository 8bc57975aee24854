"""The benchmark's workloads. Each takes a ``Run`` and returns its samples.

- ``pkb_query``: closed-loop read-only SPARQL over HTTP, Zipf-skewed keys.
- ``pkb_mixed``: the same endpoint under reads and SPARQL UPDATEs (user
  graph and CardDAV write-back) at a fixed share, uniform keys.
- ``catalog_batch``: the ten historical catalog queries, warm, in order.

Every operation's answer is checked against ground truth; a wrong answer,
an error status or a timeout counts as a failed operation.
"""

from __future__ import annotations

import csv
import io
import itertools
import json
import math
import random
import re
import shutil
import statistics
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from thymeflow_back_spark.functions.phone import normalize_phone

from . import pkb
from .trace import Tracer

REQUEST_TIMEOUT_S = 60.0
# one N-Triples statement with a literal object: subject, predicate, lexical form
NT_LITERAL = re.compile(r'^(<[^>]*>) (<[^>]*>) "((?:[^"\\]|\\.)*)"(?:\^\^<[^>]*>|@\S+)? \.$')
SCHEMA = "http://schema.org/"


@dataclass
class Sample:
    kind: str  # "read" | "write"
    op: str  # operation kind, e.g. "bgp_join"
    seconds: float
    ok: bool
    rows: int = 0


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str
    samples: list[Sample] = field(default_factory=list)
    # a traced run measures three windows of half the length, which keeps
    # it within the time a run may take
    window_scale: float = 1.0
    setup_s: float = 0.0
    info: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


# -- SPARQL operations -------------------------------------------------------------


@dataclass
class Op:
    kind: str
    name: str
    text: str
    accept: str
    check: object  # (status, body) -> (ok, rows)
    update: bool = False


def _bindings(body: str) -> list[dict]:
    return json.loads(body)["results"]["bindings"]


def _values(body: str, *names: str) -> set[tuple]:
    return {tuple(b.get(n, {}).get("value") for n in names) for b in _bindings(body)}


def _expect(expected):
    """check() comparing the parsed answer with ``expected``."""
    def check(status: int, parsed) -> tuple[bool, int]:
        return status == 200 and parsed == expected, len(parsed) if hasattr(parsed, "__len__") else 1
    return check


READ_KINDS = ("ifp_lookup", "bgp_join", "optional", "group_by", "same_as_path",
              "ask", "describe", "construct", "csv_stream")


class ReadMix:
    """The fixed read mix over one world, with its ground truth."""

    def __init__(self, world: pkb.World):
        self.world = world
        self.components = world.same_as_components()
        self.sender_counts = world.sender_counts()

    def op(self, kind: str, key: int) -> Op:
        w = self.world
        p = w.people[key]
        card = w.cards[key]
        mail = f"<mailto:{p.email}>"
        if kind == "ifp_lookup":
            text = f"SELECT ?c WHERE {{ ?c schema:email {mail} . ?c a schema:Person }}"
            want = {(c.iri,) for c in w.cards_with_email(p.email)}
            return Op("read", kind, text, "application/sparql-results+json",
                      lambda s, b: _expect(want)(s, _values(b, "c")))
        if kind == "bgp_join":
            text = (f"SELECT ?m ?h WHERE {{ ?m schema:sender ?a . ?a schema:email {mail} . "
                    f"?m schema:headline ?h }}")
            want = {(m.iri, m.subject) for m in w.mails_from(key)}
            return Op("read", kind, text, "application/sparql-results+json",
                      lambda s, b: _expect(want)(s, _values(b, "m", "h")))
        if kind == "optional":
            text = (f"SELECT ?c ?t WHERE {{ ?c schema:email {mail} . ?c a schema:Person . "
                    f"OPTIONAL {{ ?c schema:telephone ?t }} }}")
            want = {(c.iri, normalize_phone(c.phone) if c.phone else None)
                    for c in w.cards_with_email(p.email)}
            return Op("read", kind, text, "application/sparql-results+json",
                      lambda s, b: _expect(want)(s, _values(b, "c", "t")))
        if kind == "group_by":
            text = "SELECT ?a (COUNT(?m) AS ?n) WHERE { ?m schema:sender ?a } GROUP BY ?a"
            want = {(a, str(n)) for a, n in self.sender_counts.items()}
            return Op("read", kind, text, "application/sparql-results+json",
                      lambda s, b: _expect(want)(s, _values(b, "a", "n")))
        if kind == "same_as_path":
            text = f"SELECT ?x WHERE {{ <{card.iri}> personal:sameAs+ ?x }}"
            comp = self.components.get(card.iri, frozenset())
            want = {(x,) for x in comp} if len(comp) > 1 else set()
            return Op("read", kind, text, "application/sparql-results+json",
                      lambda s, b: _expect(want)(s, _values(b, "x")))
        if kind == "ask":
            text = f"ASK {{ ?m schema:sender ?a . ?a schema:email {mail} }}"
            want = bool(w.mails_from(key))
            return Op("read", kind, text, "application/sparql-results+json",
                      lambda s, b: (s == 200 and json.loads(b)["boolean"] is want, 1))
        if kind == "describe":
            text = f"DESCRIBE <{card.iri}>"
            name_line = f'<{card.iri}> <{SCHEMA}name> "{card.name}"'

            def check(s, b):
                lines = [ln for ln in b.splitlines() if ln]
                ok = s == 200 and all(ln.startswith(f"<{card.iri}> ") for ln in lines) and any(
                    ln.startswith(name_line) for ln in lines)
                return ok, len(lines)
            return Op("read", kind, text, "application/n-triples", check)
        if kind == "construct":
            text = (f"CONSTRUCT {{ ?c schema:name ?n }} WHERE {{ ?c schema:email {mail} . "
                    f"?c a schema:Person . ?c schema:name ?n }}")
            want = {(f"<{c.iri}>", f"<{SCHEMA}name>", c.name) for c in w.cards_with_email(p.email)}

            def check(s, b):
                lines = [ln for ln in b.splitlines() if ln]
                got = {m.groups() for m in map(NT_LITERAL.match, lines) if m}
                return s == 200 and got == want and len(lines) == len(want), len(lines)
            return Op("read", kind, text, "application/n-triples", check)
        if kind == "csv_stream":
            text = (f"SELECT ?m ?d WHERE {{ ?m schema:sender ?a . ?a schema:email {mail} . "
                    f"?m schema:dateSent ?d }}")
            want = {m.iri for m in w.mails_from(key)}

            def check(s, b):
                rows = list(csv.reader(io.StringIO(b)))
                got = {r[0] for r in rows[1:]}
                return s == 200 and rows[:1] == [["m", "d"]] and got == want \
                    and len(rows) - 1 == len(want), len(rows) - 1
            return Op("read", kind, text, "text/csv", check)
        raise ValueError(kind)


def _ask(graph: str, s: str, p: str, o: str) -> str:
    return f"ASK {{ GRAPH <{graph}> {{ <{s}> <{p}> {o} }} }}"


class WriteMix:
    """The writer's update cycle: insert an email into a CardDAV card
    (write-back PUT to the fake server), insert a nickname into the user
    graph, then delete both. Each update is followed by a read that must
    see it."""

    USER_GRAPH = "urn:graph:userData"
    NICK = "urn:personal:nickname"

    def __init__(self, world: pkb.World, dav, rng: random.Random):
        self.world, self.dav, self.rng = world, dav, rng
        self.n = 0
        self.pending: dict[bool, tuple[pkb.Card, str]] = {}

    def next(self) -> tuple[Op, Op]:
        """(update, verifying read) of the next step of the cycle."""
        step = self.n % 4
        self.n += 1
        to_card, insert = step % 2 == 0, step < 2
        if insert:
            card = self.world.cards[self.rng.randrange(len(self.world.cards))]
            self.pending[to_card] = (card, f"w{self.n}")
        card, tag = self.pending[to_card]
        verb = "INSERT" if insert else "DELETE"
        if to_card:
            addr = f"{tag}@write.example"
            text = (f"{verb} DATA {{ GRAPH <{card.graph}> {{ <{card.iri}> <{SCHEMA}email> "
                    f"<mailto:{addr}> }} }}")
            verify = _ask(card.graph, card.iri, SCHEMA + "email", f"<mailto:{addr}>")

            def accepted() -> bool:  # the fake server's vCard text carries the change
                return (addr in self.dav.state[pkb.CONTACTS_DIR][card.path][1].decode()) is insert
        else:
            lit = f'"{tag}"'
            text = f"{verb} DATA {{ GRAPH <{self.USER_GRAPH}> {{ <{card.iri}> <{self.NICK}> {lit} }} }}"
            verify = _ask(self.USER_GRAPH, card.iri, self.NICK, lit)

            def accepted() -> bool:
                return True
        update = Op("write", ("card_" if to_card else "user_") + verb.lower(), text, "",
                    lambda s, b: (s == 204 and accepted(), 1), update=True)
        read = Op("read", "verify", verify, "application/sparql-results+json",
                  lambda s, b: (s == 200 and json.loads(b)["boolean"] is insert, 1))
        return update, read


# -- HTTP client loop --------------------------------------------------------------


class Endpoint:
    """A started SparqlEndpoint over the world's store, and its HTTP client."""

    def __init__(self, run: Run, store, write_back=None):
        from thymeflow_back_spark.api.service import SparqlEndpoint

        self.run = run
        self.server = SparqlEndpoint(store, write_back=write_back)
        self.url = f"http://127.0.0.1:{self.server.start()}/sparql"
        self._ops = itertools.count(1)
        self._lock = threading.Lock()

    def call(self, op: Op, record: bool = True, kind: str | None = None) -> Sample:
        """Send ``op``; its sample has ``op.kind`` unless ``kind`` is given
        (the operation id of a traced request uses the same prefix)."""
        kind = kind or op.kind
        text = op.text
        if self.run.tracer.recording:
            with self._lock:
                text += f"\n#op={kind}-{next(self._ops)}"
        ctype = "application/sparql-update" if op.update else "application/sparql-query"
        req = urllib.request.Request(self.url, data=text.encode(), method="POST",
                                     headers={"Content-Type": ctype, "Accept": op.accept})
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=REQUEST_TIMEOUT_S) as resp:
                status, body = resp.status, resp.read().decode()
            seconds = time.perf_counter() - t0
            ok, rows = op.check(status, body)
        except (urllib.error.URLError, OSError, ValueError, KeyError, IndexError, csv.Error) as e:
            # HTTP error statuses, timeouts, resets and unparsable bodies
            seconds, ok, rows = time.perf_counter() - t0, False, 0
            errors = self.run.info.setdefault("first_errors", [])
            if len(errors) < 5:
                errors.append(f"{op.name}: {e}"[:200])
        sample = Sample(kind, op.name, seconds, ok, rows)
        if record:
            self.run.samples.append(sample)
        return sample

    def stop(self) -> None:
        self.server.stop()


def closed_loop(run: Run, clients: int, next_ops, min_reads: int, cycle: int) -> tuple[float, float]:
    """Each client sends its next operation only after the previous reply,
    and stops at the end of a ``cycle`` of steps once the window's seconds
    have passed and it answered its share of ``min_reads`` reads (both
    scaled by ``run.window_scale``), so every window holds the same mix.
    Capped at four times the run time. Returns the wall time and the read
    throughput: each client's answered reads over its own active time,
    summed, so a client finishing its last cycle alone does not dilute it."""
    start = time.perf_counter()
    seconds = run.seconds * run.window_scale
    per_client = math.ceil(min_reads * run.window_scale / clients)
    deadline, hard_stop = start + seconds, start + 4 * seconds
    rates = [0.0] * clients
    errors: list[BaseException] = []

    def client(c: int) -> None:
        try:
            i = reads = answered = 0
            while True:
                now = time.perf_counter()
                if now >= hard_stop or (now >= deadline and reads >= per_client and i % cycle == 0):
                    break
                for sample in next_ops(c, i):
                    if sample.kind == "read":
                        reads += 1
                        answered += sample.ok
                i += 1
            rates[c] = answered / (time.perf_counter() - start)
        except BaseException as e:  # reported by the caller
            errors.append(e)
            raise

    threads = [threading.Thread(target=client, args=(c,), daemon=True) for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=6 * seconds + REQUEST_TIMEOUT_S)
    if errors or any(t.is_alive() for t in threads):
        raise RuntimeError(f"client loop failed: {errors[:1]}")
    return time.perf_counter() - start, sum(rates)


# -- per-layer wiring for the traced run -------------------------------------------


def install_endpoint_tracing(tracer: Tracer) -> None:
    """Spans around the api, plans and update entry points the endpoint
    calls (the store's are installed at set-up). The request's operation id
    rides in a trailing SPARQL comment, so Spark jobs run by the request
    thread land in its job group."""
    if not tracer.installed:
        return
    from thymeflow_back_spark.api import service
    from thymeflow_back_spark.plans import sparql

    handle = service.SparqlEndpoint.handle

    def traced_handle(self, text, accept=""):
        marker = text.rfind("\n#op=")
        if marker >= 0 and tracer.recording:
            tracer.operation(text[marker + 5:].strip())
        with tracer.span("api.handle"):
            return handle(self, text, accept)

    service.SparqlEndpoint.handle = traced_handle
    for attr in ("parse_query", "parse_construct", "parse_describe", "parse_update"):
        tracer.wrap(sparql._Parser, attr, "plans.parse")
    tracer.wrap(service, "query_form", "plans.parse")
    tracer.wrap(sparql._Compiler, "compile_group", "plans.compile")
    tracer.wrap(service, "sparql_ask", "plans.ask")
    tracer.wrap(service, "_exact_pandas", "api.collect")
    tracer.wrap(service, "quads_ntriples", "api.collect")
    tracer.wrap(service, "ask_json", "api.serialize")
    for media, writer in list(service._SELECT_WRITERS.items()):
        service._SELECT_WRITERS[media] = tracer.spanned(writer, "api.serialize")
    tracer.wrap(service, "apply_update", "update.apply_update")


def install_setup_tracing(tracer: Tracer, run: Run) -> None:
    """Spans around the store, supervisor, synchronizer and geocoder entry
    points set-up calls, and counts of the write-backs updates make."""
    if not tracer.installed:
        return
    from thymeflow_back_spark.geocoding.geocoder import CachedGeocoder
    from thymeflow_back_spark.rdf.store import StatementStore
    from thymeflow_back_spark.sources import synchronizers as syn
    from thymeflow_back_spark.supervisor import Supervisor

    for attr in ("add_documents", "apply_diff", "materialize"):
        tracer.wrap(StatementStore, attr, f"rdf.{attr}")
    tracer.wrap(Supervisor, "sync_all", "supervisor.sync_all")
    tracer.wrap(Supervisor, "add_service_account", "supervisor.add_service_account")
    sync_source = Supervisor.sync_source

    def traced_sync_source(self, iri):
        source = SOURCE_NAMES[type(self._sources[iri].synchronizer).__name__]
        with tracer.span(f"supervisor.sync_source.{source}"):
            return sync_source(self, iri)

    Supervisor.sync_source = traced_sync_source
    for cls in (syn.EmailSynchronizer, syn.BaseDavSynchronizer):
        tracer.wrap(cls, "current_snapshot", "sources.snapshot")
    for cls in (syn.EmailSynchronizer, syn.BaseDavSynchronizer):
        tracer.wrap(cls, "sync", "sources.sync")
    tracer.wrap(CachedGeocoder, "geocode_places", "geocoding.geocode_places")
    write_back_rows = syn._DavWriteBackMixin.write_back_rows

    def traced_write_back(self, graph, adds, removes):
        ok = write_back_rows(self, graph, adds, removes)
        run.layers["update.write_backs"] = run.layers.get("update.write_backs", 0) + 1
        if not ok:
            run.layers["update.write_back_rejects"] = run.layers.get("update.write_back_rejects", 0) + 1
        return ok

    syn._DavWriteBackMixin.write_back_rows = traced_write_back


# synchronizer class -> the name its source is registered under
SOURCE_NAMES = {"EmailSynchronizer": "inbox", "CardDavSynchronizer": "contacts",
                "CalDavSynchronizer": "calendar"}


# -- workloads ------------------------------------------------------------------------


def _setup(run: Run) -> tuple[pkb.World, pkb.Pkb, Endpoint]:
    """Build the serving state, timed as set-up: synchronize the world into
    the store, enrich it, start the endpoint and make one SPARQL UPDATE
    that writes back to the fake CardDAV server. Then check what set-up
    built (each check is an operation of the run) and record its size."""
    world = pkb.World(run.seed)
    install_setup_tracing(run.tracer, run)
    install_endpoint_tracing(run.tracer)
    run.tracer.operation("setup")
    t0 = time.perf_counter()
    state = pkb.build_store(run.spark, world, run.tracer)
    endpoint = Endpoint(run, state.store, write_back=state.contacts.write_back)
    update, verify = WriteMix(world, state.dav, random.Random(run.seed)).next()
    written = endpoint.call(update, kind="setup")
    run.setup_s = time.perf_counter() - t0
    run.tracer.end_operation()
    run.tracer.recording = False  # the checks and the warm-up are not traced

    visible = endpoint.call(verify, kind="setup")
    geo_ok = set(state.places) == world.expected_places()
    run.samples.append(Sample("setup", "geocoded_places", 0.0, geo_ok))
    run.info["setup_write_ms"] = 1000 * written.seconds
    run.info["setup_checks_ok"] = written.ok and visible.ok and geo_ok

    n_quads = state.store.quads.count()
    items = len(world.documents())
    source_kb = sum(len(p) for _, _, p in world.documents()) / 1024
    fetched = {k: a.value for k, a in state.fetched.items()}
    run.info.update(store_quads=n_quads, source_kb=round(source_kb, 1), source_items=items,
                    fetched=fetched, dav_puts=state.dav.puts)
    n_lookups = len(world.events)  # one query per place, one place per event
    run.layers.update({
        "rdf.store_quads": n_quads,
        "rdf.quads_per_source_kb": n_quads / source_kb,
        "sources.items": items,
        "sources.fetch_amplification": (fetched["imap"] + fetched["dav"]) / items,
        "geocoding.fetches": fetched["geocoder"],
        "geocoding.cache_hit_rate": (n_lookups - fetched["geocoder"]) / n_lookups,
    })
    if run.tracer.installed:
        from thymeflow_back_spark.enrichers.ifp import OUTPUT_GRAPH

        run.layers["enrichers.added_quads"] = state.store.graph(OUTPUT_GRAPH).count()
    return world, state, endpoint


def _warm(endpoint: Endpoint, mix: ReadMix, key: int, clients: int) -> None:
    """One untimed pass over every read kind (plan code generation, Python
    worker start-up), spread over the clients, so the window measures the
    steady state."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(clients) as pool:
        list(pool.map(lambda kind: endpoint.call(mix.op(kind, key), record=False), READ_KINDS))


def _measure(run: Run, window) -> None:
    """One window; on a traced run, an untraced window, the traced one and
    another untraced one, each half the length. The traced window's samples are the run's; the
    overhead compares its median read with the mean of the two untraced
    medians around it, so warm-up between windows cancels out.
    ``window()`` returns (wall seconds, answered reads per second)."""
    run.info["window_s"], run.info["read_qps"] = window()
    if not run.tracer.installed:
        return

    def median_read(samples: list[Sample]) -> float:
        return statistics.median(s.seconds for s in samples if s.kind == "read" and s.ok)

    before, run.samples = run.samples, []
    run.tracer.recording = True
    run.info["traced_window_s"], run.info["read_qps"] = window()
    run.tracer.recording = False
    run.tracer.end_operation()
    traced, run.samples = run.samples, []
    window()
    after = run.samples
    run.samples = traced
    run.info["untraced_attempted"] = len(before + after)
    run.info["untraced_failed"] = sum(not s.ok for s in before + after)
    plain = (median_read(before) + median_read(after)) / 2
    run.layers["trace.overhead_pct"] = 100 * (median_read(traced) / plain - 1)


def pkb_query(run: Run) -> None:
    world, _, endpoint = _setup(run)
    mix = ReadMix(world)
    clients = run.info["clients"]
    try:
        _warm(endpoint, mix, 0, clients)
        rngs = [random.Random(run.seed * 1000 + c) for c in range(clients)]

        def next_ops(c, i):
            kind = READ_KINDS[(c * 2 + i) % len(READ_KINDS)]
            yield endpoint.call(mix.op(kind, world.zipf_person(rngs[c])))

        _measure(run, lambda: closed_loop(run, clients, next_ops, min_reads=72, cycle=len(READ_KINDS)))
    finally:
        endpoint.stop()



MIXED_CYCLE = 1 + 2 * len(READ_KINDS)  # one update (1 write in 20 operations)


def pkb_mixed(run: Run) -> None:
    world, state, endpoint = _setup(run)
    mix = ReadMix(world)
    run.info["clients"] = 1
    try:
        _warm(endpoint, mix, 0, 1)
        rng = random.Random(run.seed + 1)  # set-up's update drew from random.Random(seed)
        writer = WriteMix(world, state.dav, rng)

        def next_ops(c, i):
            # one client, so reads and updates interleave in a fixed order:
            # an update and the read that must see it, then two reads of
            # every kind on the store the update swapped in
            step = i % MIXED_CYCLE
            if step == 0:
                update, verify = writer.next()
                yield endpoint.call(update)
                yield endpoint.call(verify)
            else:
                kind = READ_KINDS[(step - 1) % len(READ_KINDS)]
                yield endpoint.call(mix.op(kind, rng.randrange(world.n_people)))

        _measure(run, lambda: closed_loop(run, 1, next_ops, min_reads=19, cycle=MIXED_CYCLE))
    finally:
        endpoint.stop()
    run.info["dav_puts"], run.info["dav_put_conflicts"] = state.dav.puts, state.dav.conflicts


def catalog_batch(run: Run) -> None:
    import os

    from thymeflow_back_spark import queries as catalog
    from thymeflow_back_spark.operators.cachereg import release_pinned
    from tools.check import compare

    from . import catalog as cat

    data_dir = os.path.join(run.work_dir, f"catalog-{run.seed}")
    t0 = time.perf_counter()
    run.info["catalog_bytes"] = cat.generate(data_dir, run.seed, cat.SF)
    run.info["sf"] = cat.SF
    oracle = cat.oracle_results(data_dir, cat.CLASSIC)
    run.info["generate_and_oracle_s"] = time.perf_counter() - t0

    def execute(name: str, record: bool = True) -> None:
        run.tracer.operation(f"query-{name}-{len(run.samples)}")
        t = time.perf_counter()
        try:
            with run.tracer.span(f"queries.{name}"):
                got = catalog.QUERIES[name].spark(run.spark, data_dir).toPandas()
            seconds = time.perf_counter() - t
            problems = compare(name, got, oracle[name])
        except Exception as e:  # noqa: BLE001 — a failing query is a failed operation
            seconds, problems = time.perf_counter() - t, [str(e)]
        finally:
            release_pinned()  # operator pins are per-query state
        ok = not problems
        errors = run.info.setdefault("first_errors", [])
        if problems and len(errors) < 5:
            errors.append(f"{name}: {'; '.join(problems)}"[:200])
        if record:
            run.samples.append(Sample("read", name, seconds, ok))

    # the cold pass (plan code generation, Python workers) is set-up work a
    # user pays once per session; generating the tables and the oracle's
    # answers is the benchmark's own work and not timed
    run.tracer.recording = False
    t0 = time.perf_counter()
    for name in cat.CLASSIC:
        execute(name, record=False)
    run.setup_s = time.perf_counter() - t0

    def window() -> tuple[float, float]:
        start = time.perf_counter()
        while True:  # whole passes only, so every query weighs the same
            for name in cat.CLASSIC:
                execute(name)
            wall = time.perf_counter() - start
            if wall >= run.seconds * run.window_scale and len(run.samples) >= 20 * run.window_scale:
                return wall, sum(s.ok for s in run.samples) / wall

    try:
        _measure(run, window)
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)


WORKLOADS = {"pkb_query": pkb_query, "pkb_mixed": pkb_mixed, "catalog_batch": catalog_batch}
