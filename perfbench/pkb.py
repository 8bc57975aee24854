"""Seeded personal-data world, its quad store and its ground truth.

``World`` generates people, some sharing an email address (duplicate
address-book cards) or a phone number (households), so that the IFP
enricher links contacts to each other and to the agents of the mails.
It writes their mails, vCards and iCal events with attendees and places,
and answers ground-truth questions about what the store must contain.

``build_store`` synchronizes the payloads from in-process fake services
through the repository's ``Supervisor``, runs the counting IFP enricher
and geocodes the calendar's places: the state every SPARQL workload
serves.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from thymeflow_back_spark.functions.phone import normalize_phone
from thymeflow_back_spark.sources.common import mint

GIVEN = ["Alice", "Bruno", "Chloe", "Dmitri", "Elena", "Farid", "Greta", "Hugo",
         "Ines", "Jonas", "Keiko", "Liam", "Marta", "Nils", "Olga", "Pablo",
         "Quinn", "Rosa", "Sven", "Tara", "Ugo", "Vera", "Wim", "Xenia"]
FAMILY = ["Moreau", "Tanaka", "Okafor", "Schmidt", "Rossi", "Novak", "Silva",
          "Larsen", "Dubois", "Haddad", "Kowalski", "Nguyen", "Meyer", "Costa",
          "Berg", "Ivanova", "Fischer", "Lopez", "Mancini", "Weber"]
PLACES = ["Cafe Lumiere", "Opera Garnier", "Gare du Nord", "Parc Monceau",
          "Bibliotheque Mazarine", "Studio Alto", "Marche Bastille", "Salle Pleyel"]
SUBJECTS = ["plans", "report", "dinner", "slides", "trip", "invoice"]

OWNER = "owner@pkb.example"
IMAP_FOLDER = "imap://pkb/INBOX"
# CardDAV graphs start with the endpoint's synchronized-graph prefix
# ("urn:uuid:"), so SPARQL updates into them go through write-back
CONTACTS_DIR = "urn:uuid:carddav-contacts"
CALENDAR_DIR = "dav://pkb/calendar"
EPOCH = datetime(2026, 3, 2, 8, 0, tzinfo=timezone.utc)


@dataclass
class Person:
    key: int
    name: str
    email: str
    phone: str | None  # raw vCard TEL text


@dataclass
class Card:
    uid: str
    name: str
    emails: list[str]
    phone: str | None

    @property
    def path(self) -> str:
        return f"{self.uid}.vcf"

    @property
    def iri(self) -> str:
        return f"urn:contact:{self.uid}"

    @property
    def graph(self) -> str:
        return f"{CONTACTS_DIR}#{self.path}"


@dataclass
class Mail:
    uid: int
    sender: int
    cc: int | None
    subject: str
    sent: datetime

    @property
    def iri(self) -> str:
        return f"urn:message:m{self.uid}@pkb.example"


@dataclass
class Event:
    uid: str
    start: datetime
    place: str
    attendees: list[int]


def agent_iri(email: str) -> str:
    """The IRI the email and iCal converters mint for an address's agent."""
    return mint("agent", email.lower())


@dataclass
class World:
    """All generated personal data of one seed."""

    seed: int
    n_people: int = 24
    n_mails: int = 48
    n_events: int = 8
    people: list[Person] = field(default_factory=list)
    cards: list[Card] = field(default_factory=list)
    mails: list[Mail] = field(default_factory=list)
    events: list[Event] = field(default_factory=list)

    def __post_init__(self):
        rng = random.Random(self.seed)
        givens = rng.sample(GIVEN, len(GIVEN))
        families = rng.sample(FAMILY, len(FAMILY))
        for k in range(self.n_people):
            g, f = givens[k % len(givens)], families[(k * 7) % len(families)]
            phone = f"+1 607 555 {1000 + k:04d}" if k % 3 else None
            self.people.append(Person(k, f"{g} {f}", f"{g}.{f}{k}@pkb.example".lower(), phone))
        # households: every fourth person shares a phone with the next one
        for k in range(0, self.n_people - 1, 4):
            shared = self.people[k].phone or f"+1 607 555 {1000 + k:04d}"
            self.people[k].phone = self.people[k + 1].phone = shared
        self.cards = [Card(f"c{p.key}", p.name, [p.email], p.phone) for p in self.people]
        # duplicate address-book entries sharing the email address
        for k in range(0, self.n_people, 6):
            given, family = self.people[k].name.split(" ")
            self.cards.append(Card(f"c{k}-work", f"{family} {given}", [self.people[k].email], None))
        # popularity order for Zipf-skewed senders and keys
        self._order = list(range(self.n_people))
        rng.shuffle(self._order)
        self._zipf_weights = [1.0 / (r + 1) ** 1.1 for r in range(self.n_people)]
        for uid in range(1, self.n_mails + 1):
            sender = self.zipf_person(rng)
            cc = rng.randrange(self.n_people) if rng.random() < 0.4 else None
            self.mails.append(Mail(uid, sender, None if cc == sender else cc,
                                   f"{rng.choice(SUBJECTS)} {uid}",
                                   EPOCH + timedelta(minutes=37 * uid)))
        for j in range(self.n_events):
            start = EPOCH + timedelta(hours=5 * j + rng.randrange(3))
            attendees = sorted({self.zipf_person(rng) for _ in range(3)})
            self.events.append(Event(f"ev{j}", start, PLACES[j % len(PLACES)], attendees))

    def zipf_person(self, rng: random.Random) -> int:
        """Person key drawn with Zipf(1.1) skew over a seed-fixed popularity order."""
        return rng.choices(self._order, weights=self._zipf_weights)[0]

    # -- payloads --------------------------------------------------------------

    def eml(self, mail: Mail) -> bytes:
        s = self.people[mail.sender]
        lines = [f"From: {s.name} <{s.email}>", f"To: Owner <{OWNER}>"]
        if mail.cc is not None:
            c = self.people[mail.cc]
            lines.append(f"Cc: {c.name} <{c.email}>")
        lines += [f"Subject: {mail.subject}", f"Message-ID: <m{mail.uid}@pkb.example>",
                  f"Date: {mail.sent.strftime('%a, %d %b %Y %H:%M:%S +0000')}", "",
                  f"body of message {mail.uid}"]
        return ("\r\n".join(lines) + "\r\n").encode()

    def vcf(self, card: Card) -> bytes:
        given, _, family = card.name.partition(" ")
        lines = ["BEGIN:VCARD", "VERSION:4.0", f"UID:{card.uid}", f"FN:{card.name}",
                 f"N:{family};{given};;;"]
        lines += [f"EMAIL:{e}" for e in card.emails]
        if card.phone:
            lines.append(f"TEL;TYPE=cell:{card.phone}")
        return ("\n".join(lines + ["END:VCARD"]) + "\n").encode()

    def ics(self, ev: Event) -> bytes:
        end = ev.start + timedelta(minutes=90)
        lines = ["BEGIN:VCALENDAR", "BEGIN:VEVENT", f"UID:{ev.uid}", f"SUMMARY:meeting {ev.uid}",
                 f"DTSTART:{ev.start:%Y%m%dT%H%M%SZ}", f"DTEND:{end:%Y%m%dT%H%M%SZ}",
                 f"LOCATION:{ev.place}"]
        for k in ev.attendees:
            p = self.people[k]
            lines.append(f"ATTENDEE;CN={p.name}:mailto:{p.email}")
        return ("\n".join(lines + ["END:VEVENT", "END:VCALENDAR"]) + "\n").encode()

    # -- places ----------------------------------------------------------------

    def place_features(self, place: str) -> list:
        """What the geocoder backend answers for a place name: one feature,
        two for the second place (ambiguous, so its result is uncertain)."""
        from thymeflow_back_spark.geocoding.geocoder import Feature

        j = PLACES.index(place)
        one = Feature(name=place, lon=float(f"2.{31 + j}5"), lat=float(f"48.{81 + j}5"))
        return [one, Feature(name=place + " annex", lon=2.4, lat=48.9)] if j == 1 else [one]

    def expected_places(self) -> set[tuple[str, str, int]]:
        """(place, name, number of features) the geocoder must resolve."""
        return {(mint("place", e.place.lower()), e.place, len(self.place_features(e.place)))
                for e in self.events}

    def documents(self) -> list[tuple[str, str, bytes]]:
        """(kind, document graph, payload) for every source item."""
        docs = [("eml", f"{IMAP_FOLDER}#{m.uid}", self.eml(m)) for m in self.mails]
        docs += [("vcard", c.graph, self.vcf(c)) for c in self.cards]
        docs += [("ical", f"{CALENDAR_DIR}#{e.uid}.ics", self.ics(e)) for e in self.events]
        return docs

    # -- ground truth ----------------------------------------------------------

    def mails_from(self, key: int) -> list[Mail]:
        return [m for m in self.mails if m.sender == key]

    def cards_with_email(self, email: str) -> list[Card]:
        return [c for c in self.cards if email in c.emails]

    def sender_counts(self) -> dict[str, int]:
        counts: dict[str, int] = {}
        for m in self.mails:
            a = agent_iri(self.people[m.sender].email)
            counts[a] = counts.get(a, 0) + 1
        return counts

    def same_as_components(self) -> dict[str, frozenset[str]]:
        """Node → its IFP equivalence class: cards and agents sharing an
        email address, cards sharing a phone number."""
        emails = {OWNER} | {self.people[k].email for m in self.mails
                            for k in (m.sender, m.cc) if k is not None}
        emails |= {self.people[k].email for e in self.events for k in e.attendees}
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        by_value: dict[str, list[str]] = {}
        for e in emails:
            by_value.setdefault(f"mailto:{e}", []).append(agent_iri(e))
        for c in self.cards:
            for e in c.emails:
                by_value.setdefault(f"mailto:{e}", []).append(c.iri)
            if c.phone:
                by_value.setdefault(normalize_phone(c.phone), []).append(c.iri)
        for nodes in by_value.values():
            for n in nodes:
                parent[find(n)] = find(nodes[0])
        groups: dict[str, set[str]] = {}
        for n in list(parent):
            groups.setdefault(find(n), set()).add(n)
        return {n: frozenset(g) for g in groups.values() for n in g}


@dataclass
class Pkb:
    """The serving state built in set-up: the store, the supervisor that
    synchronized it, the fakes behind it and their counters."""

    store: object
    supervisor: object
    dav: object
    contacts: object  # the CardDAV synchronizer, whose write_back the endpoint calls
    sources: dict  # source name -> source IRI
    fetched: dict  # counter name -> accumulator
    places: list  # (place, name, number of features) the geocoder resolved


def build_store(spark, world: World, tracer) -> Pkb:
    """Synchronize the world's mails, cards and events from the fakes with
    ``Supervisor.sync_all()`` (no enricher chain), run the counting IFP
    enricher once over the result, then geocode the calendar's places
    through a geocoder cache that already holds every second place.

    The enricher's diff is the whole synchronized store, which is what an
    initial load adds. The diffs ``sync_all`` returns are lazy over the
    executor-side fetch: an enricher reading them fetches every item again
    (measured: the IFP pass then took minutes instead of seconds)."""
    from thymeflow_back_spark.enrichers.ifp import counting_ifp_enricher
    from thymeflow_back_spark.geocoding.geocoder import CACHE_SCHEMA, CachedGeocoder
    from thymeflow_back_spark.rdf.model import empty_quads
    from thymeflow_back_spark.rdf.store import Diff, StatementStore
    from thymeflow_back_spark.sources.synchronizers import (
        CalDavSynchronizer, CardDavSynchronizer, EmailSynchronizer)
    from thymeflow_back_spark.supervisor import Supervisor

    from . import fakes

    sc = spark.sparkContext
    fetched = {k: sc.accumulator(0) for k in ("imap", "dav", "geocoder")}
    imap, dav = fakes.FakeImap(world, fetched["imap"]), fakes.FakeDav(world, fetched["dav"])
    contacts = CardDavSynchronizer(spark, "pkb", [CONTACTS_DIR], dav)
    supervisor = Supervisor(spark, StatementStore(empty_quads(spark)))
    sources = supervisor.add_service_account("pkb", OWNER, {
        "inbox": EmailSynchronizer(spark, "pkb", imap),
        "contacts": contacts,
        "calendar": CalDavSynchronizer(spark, "pkb", [CALENDAR_DIR], dav),
    })
    supervisor.sync_all()
    store = supervisor.store
    with tracer.span("enrichers.ifp"):
        extra = counting_ifp_enricher()(store, Diff(added=store.quads, removed=store.quads.limit(0)))
        store = store.apply_diff(extra).materialize()
    supervisor.store = store
    cache = spark.createDataFrame(fakes.cache_rows(world, PLACES[::2]), CACHE_SCHEMA)
    geocoder = CachedGeocoder(spark, fakes.GeoFetch(world, fetched["geocoder"]), cache=cache)
    places = [(r.place, r.name, r.n_features)
              for r in geocoder.geocode_places(place_names(store)).collect()]
    return Pkb(store, supervisor, dav, contacts, sources, fetched, places)


def place_names(store):
    """(place, name) of every schema:Place in the store."""
    from pyspark.sql import functions as F

    from thymeflow_back_spark.rdf import vocab

    q = store.quads
    typed = q.filter((F.col("predicate") == vocab.RDF_TYPE) & (F.col("object_value") == vocab.PLACE))
    names = q.filter(F.col("predicate") == vocab.NAME).select(
        F.col("subject").alias("place"), F.col("object_value").alias("name"))
    return typed.select(F.col("subject").alias("place")).distinct().join(names, "place")
