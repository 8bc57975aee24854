"""In-process fakes of the personal-data services, over a generated world.

The synchronizers ship their transports to executors (the fetch runs in
``mapInPandas``), so every fake is picklable and counts its fetches in a
Spark accumulator, which executors add to and the driver reads. Calls the
driver makes itself (listings, write-back GET/PUT) are plain counters.

- ``FakeImap``: one IMAP folder of the world's mails.
- ``FakeDav``: CardDAV and CalDAV directories with etags and If-Match PUTs.
- ``GeoFetch``: the geocoder backend, answering from the world's places.
"""

from __future__ import annotations

import json
from dataclasses import asdict

from . import pkb


class FakeImap:
    """{folder: {uid: raw message}} with uid validity 1."""

    def __init__(self, world: pkb.World, fetched):
        self.state = {pkb.IMAP_FOLDER: {m.uid: world.eml(m) for m in world.mails}}
        self.fetched = fetched  # accumulator: messages fetched

    def folders(self):
        return {f: (1, sorted(msgs)) for f, msgs in self.state.items()}

    def fetch(self, folder_url, uids):
        msgs = self.state[folder_url]
        out = [(uid, msgs[int(uid)]) for uid in uids if int(uid) in msgs]
        self.fetched.add(len(out))
        return out


class FakeDav:
    """WebDAV server over {directory: {path: (etag, body)}}."""

    def __init__(self, world: pkb.World, fetched):
        self.state = {
            pkb.CONTACTS_DIR: {c.path: ("v1", world.vcf(c)) for c in world.cards},
            pkb.CALENDAR_DIR: {f"{e.uid}.ics": ("v1", world.ics(e)) for e in world.events},
        }
        self.fetched = fetched  # accumulator: resources fetched by multiget
        self.puts = 0
        self.conflicts = 0

    def report(self, directory):
        return [(p, etag) for p, (etag, _) in sorted(self.state[directory].items())]

    def multiget(self, directory, paths):
        res = self.state[directory]
        out = [(p, *res[p]) for p in paths if p in res]
        self.fetched.add(len(out))
        return out

    def get(self, directory, path):
        return self.state[directory][path]

    def put(self, directory, path, body, if_match):
        etag, _ = self.state[directory][path]
        self.puts += 1
        if etag != if_match:
            self.conflicts += 1
            return None
        self.state[directory][path] = (f"{etag}+", body)
        return f"{etag}+"


class GeoFetch:
    """fetch(kind, query) of the geocoder: the features of a place name."""

    def __init__(self, world: pkb.World, fetched):
        self.features = {name: world.place_features(name) for name in pkb.PLACES}
        self.fetched = fetched  # accumulator: backend calls

    def __call__(self, kind, query):
        self.fetched.add(1)
        return self.features.get(query, [])


def cache_rows(world: pkb.World, names) -> list[tuple]:
    """Geocoder cache entries (kind, query, features JSON) for place ``names``."""
    return [("direct", n, json.dumps([asdict(f) for f in world.place_features(n)])) for n in names]
