"""Tests: movement segmentation, primary-facet election, update routing,
geocoder cache, multimodal plumbing."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from thymeflow_back_spark.algorithms.trellis import viterbi_states, STATIONARY, MOVING
from thymeflow_back_spark.enrichers.primary_facet import OUTPUT_GRAPH as PF_GRAPH
from thymeflow_back_spark.enrichers.primary_facet import primary_facet_enricher
from thymeflow_back_spark.geocoding import CachedGeocoder, Feature
from thymeflow_back_spark.multimodal import (
    extract_image_features,
    resize_images,
    sample_video_frames,
)
from thymeflow_back_spark.operators.movement import segment_movement
from thymeflow_back_spark.rdf import vocab
from thymeflow_back_spark.rdf.model import make_quads
from thymeflow_back_spark.rdf.store import Diff, StatementStore
from thymeflow_back_spark.update import USER_GRAPH, apply_update


def iri_q(s, p, o, g):
    return (s, p, o, "iri", None, None, g)


def lit_q(s, p, o, g):
    return (s, p, o, "literal", "http://www.w3.org/2001/XMLSchema#string", None, g)


# --- trellis / movement -------------------------------------------------------


def test_viterbi_smooths_noise():
    # stationary with one spurious speed spike stays stationary throughout
    speeds = [0.3, 0.5, 8.0, 0.4, 0.2]
    assert viterbi_states(speeds) == [STATIONARY] * 5
    # sustained movement flips the state
    speeds = [0.3, 0.3, 6.0, 7.0, 6.5, 7.2, 0.2, 0.3]
    states = viterbi_states(speeds)
    assert states[:2] == [STATIONARY, STATIONARY]
    assert states[2:6] == [MOVING] * 4
    assert states[6:] == [STATIONARY, STATIONARY]


def test_segment_movement_spark(spark):
    minute = 60_000_000
    rows = []
    # 10 min still, 5 min moving (~400 m/min), 10 min still
    for i in range(10):
        rows.append((1, i * minute, 2.0, 48.0))
    for i in range(5):
        rows.append((1, (10 + i) * minute, 2.0 + 0.005 * (i + 1), 48.0))
    for i in range(10):
        rows.append((1, (15 + i) * minute, 2.025, 48.0))
    df = spark.createDataFrame(rows, "user_id long, ts_us long, lon double, lat double")
    segs = segment_movement(df).orderBy("start_us").collect()
    assert [s.state for s in segs] == ["stationary", "moving", "stationary"]


# --- primary facet ------------------------------------------------------------


def test_primary_facet_election(spark):
    quads = make_quads(
        spark,
        [
            iri_q("a", vocab.SAME_AS, "b", "g:ifp"),
            iri_q("b", vocab.SAME_AS, "a", "g:ifp"),
            # 'b' has more descriptive triples → becomes the head
            lit_q("b", "p:name", "Bee", "g:doc"),
            lit_q("b", "p:mail", "b@x", "g:doc"),
            lit_q("a", "p:name", "Ay", "g:doc"),
            # unrelated singleton with no sameAs — not elected
            lit_q("z", "p:name", "Zed", "g:doc"),
        ],
    )
    store = StatementStore(quads)
    diff = primary_facet_enricher(store, Diff(quads, quads.filter(F.lit(False))))
    got = {
        (r.subject, r.object_value)
        for r in diff.added.filter(F.col("graph") == PF_GRAPH).collect()
    }
    assert got == {("a", "b"), ("b", "b")}


# --- location-event enricher --------------------------------------------------


def test_location_event_enricher(spark):
    """LocationEventEnricher.scala:66-95 parity: overlap >20% of the event
    and ≤1 km (or missing geo) → (event, schema:location, stay) quad."""
    from thymeflow_back_spark.enrichers.location_events import (
        OUTPUT_GRAPH,
        location_event_enricher,
    )
    from thymeflow_back_spark.enrichers.pipeline import ingest
    from thymeflow_back_spark.rdf.model import XSD_DATETIME, XSD_DOUBLE

    def dt_q(s, p, o, g):
        return (s, p, o, "literal", XSD_DATETIME, None, g)

    def num_q(s, p, o, g):
        return (s, p, o, "literal", XSD_DOUBLE, None, g)

    # stay 10:00-11:00 at (48.0, 2.0); nearby event 10:00-10:30 (full overlap),
    # far event 10:00-10:30 at ~22 km, barely-overlapping event 10:54-11:54
    # (10% of event inside), geo-less event 10:00-10:30 (passes)
    base = [
        iri_q("stay:1", vocab.RDF_TYPE, vocab.STAY, "g:stays"),
        dt_q("stay:1", vocab.START_DATE, "2024-01-01T10:00:00+00:00", "g:stays"),
        dt_q("stay:1", vocab.END_DATE, "2024-01-01T11:00:00+00:00", "g:stays"),
        iri_q("stay:1", vocab.GEO, "geo:s1", "g:stays"),
        num_q("geo:s1", vocab.LATITUDE, "48.0", "g:stays"),
        num_q("geo:s1", vocab.LONGITUDE, "2.0", "g:stays"),
    ]
    events = []
    for ev, start, end, latlon in [
        ("event:near", "10:00:00", "10:30:00", ("48.001", "2.0")),
        ("event:far", "10:00:00", "10:30:00", ("48.2", "2.0")),
        ("event:thin", "10:54:00", "11:54:00", ("48.0", "2.0")),
        ("event:nogeo", "10:00:00", "10:30:00", None),
    ]:
        events += [
            iri_q(ev, vocab.RDF_TYPE, vocab.EVENT, "g:cal"),
            dt_q(ev, vocab.START_DATE, f"2024-01-01T{start}+00:00", "g:cal"),
            dt_q(ev, vocab.END_DATE, f"2024-01-01T{end}+00:00", "g:cal"),
        ]
        if latlon:
            events += [
                iri_q(ev, vocab.GEO, f"geo:{ev}", "g:cal"),
                num_q(f"geo:{ev}", vocab.LATITUDE, latlon[0], "g:cal"),
                num_q(f"geo:{ev}", vocab.LONGITUDE, latlon[1], "g:cal"),
            ]
    store, _ = ingest(
        StatementStore(make_quads(spark, base)),
        make_quads(spark, events),
        ["g:cal"],
        [location_event_enricher],
    )
    located = {
        r.subject
        for r in store.quads.filter(
            (F.col("graph") == OUTPUT_GRAPH) & (F.col("predicate") == vocab.LOCATION)
        ).collect()
    }
    assert located == {"event:near", "event:nogeo"}


# --- updater ------------------------------------------------------------------


def test_update_routing_and_negation(spark):
    doc_graph = "urn:uuid:doc-1"
    store = StatementStore(
        make_quads(
            spark,
            [
                lit_q("s1", "p:name", "Old", doc_graph),
                lit_q("s1", "p:age", "30", doc_graph),
            ],
        )
    )
    # user update: remove the name from the synchronized doc (no write-back),
    # add a graphless statement about s1, add an explicit user-graph statement
    nullable_schema = (
        "subject string, predicate string, object_value string, object_type string, "
        "object_datatype string, object_lang string, graph string"
    )
    diff = Diff(
        added=spark.createDataFrame(
            [
                ("s1", "p:nickname", "N", "literal", None, None, None),
                lit_q("s2", "p:note", "hello", USER_GRAPH),
            ],
            nullable_schema,
        ),
        removed=make_quads(spark, [lit_q("s1", "p:name", "Old", doc_graph)]),
    )
    out = apply_update(store, diff, synchronized_graph_prefix="urn:uuid:")
    rows = {(r.subject, r.predicate, r.object_value, r.graph) for r in out.quads.collect()}
    # removal applied locally
    assert ("s1", "p:name", "Old", doc_graph) not in rows
    # negation asserted in user graph so re-sync cannot resurrect
    assert ("s1", "urn:neg:p:name", "Old", USER_GRAPH) in rows
    # graphless add routed toward the subject's dominant graph — which is a
    # SYNCHRONIZED graph with no write-back, so the add lands in the user
    # graph instead (Updater.scala:47-75: rejected adds live in userData;
    # leaving it in the doc graph would lose it on the next re-delivery)
    assert ("s1", "p:nickname", "N", USER_GRAPH) in rows
    assert ("s1", "p:nickname", "N", doc_graph) not in rows
    # explicit graph respected
    assert ("s2", "p:note", "hello", USER_GRAPH) in rows
    # negation now blocks re-delivery of the removed triple
    redelivery = make_quads(
        spark, [lit_q("s1", "p:name", "Old", doc_graph), lit_q("s1", "p:age", "30", doc_graph)]
    )
    out2, diff2 = out.add_document(doc_graph, redelivery)
    assert ("s1", "p:name", "Old") not in {
        (r.subject, r.predicate, r.object_value) for r in out2.quads.collect()
    }


def test_update_readd_clears_negation(spark):
    """A user re-add removes the matching negation quad (Updater.scala:34-36)
    — without this, a once-removed triple stays suppressed forever."""
    doc_graph = "urn:uuid:doc-1"
    store = StatementStore(make_quads(spark, [lit_q("s1", "p:name", "Old", doc_graph)]))
    # remove (asserts negation), then re-add the same triple
    store = apply_update(
        store,
        Diff(
            added=make_quads(spark, []),
            removed=make_quads(spark, [lit_q("s1", "p:name", "Old", doc_graph)]),
        ),
    )
    assert ("s1", "urn:neg:p:name", "Old") in {
        (r.subject, r.predicate, r.object_value) for r in store.quads.collect()
    }
    store = apply_update(
        store,
        Diff(
            added=make_quads(spark, [lit_q("s1", "p:name", "Old", USER_GRAPH)]),
            removed=make_quads(spark, []),
        ),
    )
    rows = {(r.subject, r.predicate, r.object_value) for r in store.quads.collect()}
    assert ("s1", "urn:neg:p:name", "Old") not in rows
    assert ("s1", "p:name", "Old") in rows
    # re-sync can now resurrect the triple into the doc graph
    store2, diff = store.add_document(
        doc_graph, make_quads(spark, [lit_q("s1", "p:name", "New", doc_graph)])
    )
    assert ("s1", "p:name", "New") in {
        (r.subject, r.predicate, r.object_value) for r in store2.quads.collect()
    }


def test_update_graphless_removal_resolves_graphs(spark):
    """Removals with NULL graph expand to every matching store statement
    (Updater.scala:138-144) instead of silently no-oping."""
    nullable_schema = (
        "subject string, predicate string, object_value string, object_type string, "
        "object_datatype string, object_lang string, graph string"
    )
    xsd_s = "http://www.w3.org/2001/XMLSchema#string"
    store = StatementStore(
        make_quads(
            spark,
            [
                lit_q("s1", "p:name", "Old", "urn:uuid:doc-1"),
                lit_q("s1", "p:name", "Old2", "urn:uuid:doc-2"),
            ],
        )
    )
    diff = Diff(
        added=make_quads(spark, []),
        removed=spark.createDataFrame(
            [("s1", "p:name", "Old", "literal", xsd_s, None, None)], nullable_schema
        ),
    )
    out = apply_update(store, diff)
    rows = {(r.subject, r.predicate, r.object_value, r.graph) for r in out.quads.collect()}
    assert ("s1", "p:name", "Old", "urn:uuid:doc-1") not in rows
    # the other value untouched
    assert ("s1", "p:name", "Old2", "urn:uuid:doc-2") in rows
    # negation asserted for the resolved synchronized-graph removal
    assert ("s1", "urn:neg:p:name", "Old", USER_GRAPH) in rows


# --- geocoder cache -----------------------------------------------------------


def test_cached_geocoder(spark, tmp_path):
    # the fetch runs EXECUTOR-side (mapInPandas) — count invocations through
    # a file the worker processes append to, not a driver closure list
    log_path = str(tmp_path / "fetch_log")

    def fake_fetch(kind, query):
        with open(log_path, "a") as fh:
            fh.write(f"{kind}\t{query}\n")
        if query == "Cafe de Flore":
            return [Feature(name="Cafe de Flore", lon=2.3325, lat=48.8542, country="France")]
        if query == "Springfield":
            return [
                Feature(name="Springfield IL", lon=-89.6, lat=39.8),
                Feature(name="Springfield MA", lon=-72.6, lat=42.1),
            ]
        return []

    def n_calls():
        try:
            with open(log_path) as fh:
                return sum(1 for _ in fh)
        except FileNotFoundError:
            return 0

    geo = CachedGeocoder(spark, fake_fetch)
    places = spark.createDataFrame(
        [("p1", "Cafe de Flore"), ("p2", "Springfield"), ("p3", "Nowhere At All")],
        "place_id string, name string",
    )
    out = {r.place_id: r for r in geo.geocode_places(places).collect()}
    assert out["p1"].certain and out["p1"].n_features == 1
    assert (not out["p2"].certain) and out["p2"].n_features == 2
    assert out["p3"].n_features == 0
    assert n_calls() == 3  # each distinct miss fetched exactly once
    # same lookup again → served from cache, no new fetches
    geo.geocode_places(places).collect()
    assert n_calls() == 3


# --- multimodal ---------------------------------------------------------------


def test_multimodal_plumbing(spark):
    rows = [
        (1, "image", "image/png", bytes([i % 251 for i in range(400)]), {"src": "a"}),
        (2, "image", "image/png", b"other-bytes" * 30, {"src": "b"}),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, mime string, content binary, meta map<string,string>"
    )
    feats = {r.media_id: r for r in extract_image_features(media, fake_decode=True).collect()}
    assert set(feats) == {1, 2}
    assert feats[1].width >= 32 and len(feats[1].phash) == 16
    # determinism: same bytes → same features
    feats2 = {r.media_id: r for r in extract_image_features(media, fake_decode=True).collect()}
    assert feats[1].phash == feats2[1].phash and feats[1].mean_luma == feats2[1].mean_luma

    resized = resize_images(media, 16, 16, fake_decode=True).collect()
    assert all(len(bytes(r.content)) == 16 * 16 * 3 for r in resized)

    frames = sample_video_frames(media, fake_decode=True).collect()
    per_media = {}
    for fr in frames:
        per_media.setdefault(fr.media_id, []).append(fr)
    assert all(len(v) >= 1 for v in per_media.values())

    # the real-decoder path must fail loudly, not silently fake
    import pytest

    with pytest.raises(Exception) as exc_info:
        extract_image_features(media, fake_decode=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or "codec" in str(exc_info.value)


def test_sameas_negation_special_pair(spark):
    """Negation.scala:21-23: removing personal:sameAs asserts a first-class
    personal:differentFrom; the differentFrom then vetoes sameAs re-adds at
    sync; re-adding sameAs clears the differentFrom."""
    g = "urn:uuid:doc-sp"
    base = make_quads(
        spark, [("a", vocab.SAME_AS, "b", "iri", None, None, g)]
    )
    store = StatementStore(base)
    # user removes the sameAs from a synchronized graph
    store = apply_update(
        store,
        Diff(added=make_quads(spark, []), removed=base),
    )
    rows = {(r.subject, r.predicate, r.object_value) for r in store.quads.collect()}
    assert ("a", vocab.SAME_AS, "b") not in rows
    assert ("a", vocab.DIFFERENT_FROM, "b") in rows  # not an urn:neg: quad
    assert not any(p.startswith("urn:neg:") for _, p, _ in rows)

    # synchronization re-delivery cannot resurrect the sameAs
    store2, diff = store.add_document(
        g, make_quads(spark, [("a", vocab.SAME_AS, "b", "iri", None, None, g)])
    )
    assert ("a", vocab.SAME_AS, "b") not in {
        (r.subject, r.predicate, r.object_value) for r in store2.quads.collect()
    }

    # an explicit user re-add clears the differentFrom veto
    store3 = apply_update(
        store,
        Diff(
            added=make_quads(
                spark, [("a", vocab.SAME_AS, "b", "iri", None, None, "urn:graph:userData")]
            ),
            removed=make_quads(spark, []),
        ),
    )
    rows3 = {(r.subject, r.predicate, r.object_value) for r in store3.quads.collect()}
    assert ("a", vocab.SAME_AS, "b") in rows3
    assert ("a", vocab.DIFFERENT_FROM, "b") not in rows3


def test_png_codec_roundtrip_and_filters():
    """Pure-stdlib PNG codec: encode→decode round-trips exactly; the decoder
    reconstructs every scanline filter type and the non-RGB color types."""
    import struct
    import zlib

    import numpy as np

    from thymeflow_back_spark.multimodal.png import (
        PNG_SIGNATURE,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)

    # hand-filtered stream covering filters 0-4 (the encoder only emits 0)
    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body) & 0xFFFFFFFF
        )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    h, w, bpp = 5, 4, 3
    img2 = rng.randint(0, 256, size=(h, w, bpp), dtype=np.uint8)
    raw = bytearray()
    prev = [0] * (w * bpp)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = [int(v) for v in img2[y].reshape(-1)]
        raw.append(ftype)
        for x in range(w * bpp):
            left = line[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                f = line[x]
            elif ftype == 1:
                f = line[x] - left
            elif ftype == 2:
                f = line[x] - up
            elif ftype == 3:
                f = line[x] - (left + up) // 2
            else:
                f = line[x] - paeth(left, up, ul)
            raw.append(f % 256)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data), img2)

    # grayscale (color type 0) and palette (color type 3)
    gray = rng.randint(0, 256, size=(3, 4), dtype=np.uint8)
    raw_g = b"".join(b"\x00" + gray[y].tobytes() for y in range(3))
    data_g = (
        PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw_g))
        + chunk(b"IEND", b"")
    )
    out_g = decode_png(data_g)
    assert np.array_equal(out_g, np.repeat(gray[:, :, None], 3, axis=2))

    palette = rng.randint(0, 256, size=(4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, size=(3, 4), dtype=np.uint8)
    raw_p = b"".join(b"\x00" + idx[y].tobytes() for y in range(3))
    data_p = (
        PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(raw_p))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(data_p), palette[idx])

    # unsupported shapes fail loudly
    import pytest

    bad = PNG_SIGNATURE + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0)
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bad)


def test_extract_features_real_png(spark):
    """decode_image dispatches PNG bytes to the real codec — features come
    from the actual pixels, no fake flag needed."""
    import numpy as np

    from thymeflow_back_spark.multimodal.png import encode_png

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(24, 18, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, "image", "image/png", encode_png(img), {})],
        "media_id long, kind string, mime string, content binary, meta map<string,string>",
    )
    [feat] = extract_image_features(media).collect()
    assert (feat.width, feat.height) == (18, 24)
    assert abs(feat.mean_luma - float(img.mean())) < 1e-9
    resized = resize_images(media, 8, 8).collect()
    assert len(bytes(resized[0].content)) == 8 * 8 * 3


def test_png_malformed_raises_valueerror():
    """Damaged PNG streams raise ValueError per the module contract — zlib,
    struct, and palette-indexing errors never leak."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from thymeflow_back_spark.multimodal.png import (
        PNG_SIGNATURE,
        decode_png,
        encode_png,
    )

    def chunk(ctype, body):
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", zlib.crc32(ctype + body) & 0xFFFFFFFF
        )

    # corrupt IDAT payload → zlib error path
    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    corrupt = good.replace(b"IDAT", b"IDAT")[:40] + b"\x00garbage\xff" + good[50:]
    with pytest.raises(ValueError):
        decode_png(corrupt)
    # truncated IHDR body → struct error path
    bad_ihdr = PNG_SIGNATURE + chunk(b"IHDR", b"\x00\x01") + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bad_ihdr)
    # palette index out of range → indexing error path
    palette = bytes(3)  # single black entry
    idx = zlib.compress(b"\x00\x05")  # filter 0, index 5 > 0
    bad_plte = (
        PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", idx)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad_plte)


def test_wav_codec_roundtrip_and_guards():
    import numpy as np

    from thymeflow_back_spark.multimodal.audio import decode_wav, encode_wav

    rng = np.random.RandomState(11)
    samples = rng.randint(-32768, 32768, size=777, dtype=np.int16)
    sr, back = decode_wav(encode_wav(samples, 16000))
    assert sr == 16000
    assert np.array_equal(back, samples)

    # stereo / non-16-bit content raises honestly
    import io
    import wave

    import pytest

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00")
    with pytest.raises(NotImplementedError):
        decode_wav(buf.getvalue())


def test_extract_audio_features_real_wav(spark):
    import numpy as np

    from thymeflow_back_spark.multimodal.audio import encode_wav, extract_audio_features

    samples = np.array([0, 16384, -16384, 32767], dtype=np.int16)
    media = spark.createDataFrame(
        [(7, bytearray(encode_wav(samples, 8000)))], "media_id long, content binary"
    )
    (row,) = extract_audio_features(media).collect()
    assert (row.media_id, row.sample_rate, row.n_samples, row.peak) == (7, 8000, 4, 32767)
    assert abs(row.duration_ms - 0.5) < 1e-9
    want_rms = float(np.sqrt((0 + 16384**2 + 16384**2 + 32767**2) / 4))
    assert row.rms == want_rms
