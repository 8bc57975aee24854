"""Unit tests for operators: closure, interval join, graph statistics
(triangles, k-core, GraphML), similarity joins, full-text index, top-k,
skew salting and profiling. Triple-pattern matching is tested through
SPARQL text in test_sparql.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thymeflow_back_spark.operators.closure import connected_components, transitive_closure
from thymeflow_back_spark.operators.interval_join import interval_overlap_self_join
from thymeflow_back_spark.operators.topk import top_k_per_group


def test_connected_components_chain_and_clique(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("y", "x"), ("p", "q"), ("q", "r"), ("r", "s")],
        "src string, dst string",
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
        ("p", "p"), ("q", "p"), ("r", "p"), ("s", "p"),
    }


def test_transitive_closure_reflexive(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {(r.src, r.dst) for r in transitive_closure(edges).collect()}
    assert got == {
        ("a", "a"), ("b", "b"), ("c", "c"),
        ("a", "b"), ("b", "c"), ("a", "c"),
    }


def test_interval_self_join_matches_naive(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, 0, s := rnd.randrange(0, 10_000_000_000), s + rnd.randrange(1, 2_000_000_000))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, k long, start_us long, end_us long")
    got = {
        (r.a_id, r.b_id)
        for r in interval_overlap_self_join(
            df, on=["k"], id_col="id", start_us="start_us", end_us="end_us", bucket_seconds=1000
        ).collect()
    }
    naive = {
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[0] < b[0] and a[2] <= b[3] and b[2] <= a[3]
    }
    assert got == naive


def test_triangle_clustering_vs_brute_force(spark):
    """Degree-ordered triangle counting matches the brute-force enumeration
    on a skewed graph (one hub in every triangle, plus a clique, plus a
    triangle-free path)."""
    import itertools
    import random

    from thymeflow_back_spark.operators.triangles import (
        clustering_coefficients,
        triangles,
        undirected_edges,
    )

    rng = random.Random(7)
    # hub 0 connected to 1..12; a few spoke-spoke edges; clique {20..24};
    # path 30-31-32-33; plus random noise edges
    pairs = [(0, i) for i in range(1, 13)]
    pairs += [(1, 2), (2, 3), (5, 6), (9, 10)]
    pairs += list(itertools.combinations(range(20, 25), 2))
    pairs += [(30, 31), (31, 32), (32, 33)]
    pairs += [(rng.randrange(35), rng.randrange(35)) for _ in range(30)]
    df = spark.createDataFrame(pairs, "x long, y long")
    edges = undirected_edges(df, "x", "y")

    es = {(r.u, r.v) for r in edges.collect()}
    verts = sorted({x for e in es for x in e})
    nbr = {x: {b if a == x else a for a, b in es if x in (a, b)} for x in verts}
    brute = {
        tuple(sorted(t))
        for t in itertools.combinations(verts, 3)
        if tuple(sorted(t[:2])) in es
        and tuple(sorted(t[1:])) in es
        and tuple(sorted((t[0], t[2]))) in es
    }
    got = {tuple(sorted((r.a, r.b, r.c))) for r in triangles(edges).collect()}
    assert got == brute
    assert len(got) == triangles(edges).count()  # each triangle exactly once

    cc = {r.id: (r.degree, r.triangles, r.clustering) for r in clustering_coefficients(edges).collect()}
    for x in verts:
        d = len(nbr[x])
        t = sum(1 for tri in brute if x in tri)
        expect = 0.0 if d < 2 else 2 * t / (d * (d - 1))
        assert cc[x] == (d, t, expect)


def test_kcore_peel_vs_brute_force(spark):
    """Bounded-round peeling matches the reference peeling simulation and
    converges within the round budget (extra rounds are no-ops)."""
    import random

    from thymeflow_back_spark.operators.kcore import kcore_peel
    from thymeflow_back_spark.operators.triangles import undirected_edges

    rng = random.Random(11)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    # a triangulated chain: interior degree 4, ends degree <= 2 — at k=3 the
    # ends peel first and the collapse cascades inward one round per step
    pairs += [(100 + i, 100 + i + 1) for i in range(12)]
    pairs += [(100 + i, 100 + i + 2) for i in range(11)]
    df = spark.createDataFrame(pairs, "x long, y long")
    edges = undirected_edges(df, "x", "y")
    es = {(r.u, r.v) for r in edges.collect()}

    k = 3
    # reference peeling: round-synchronous removal until fixpoint
    alive = {x for e in es for x in e}
    expect: dict[int, int] = {}
    r = 0
    while True:
        deg = {x: 0 for x in alive}
        for u, v in es:
            if u in alive and v in alive:
                deg[u] += 1
                deg[v] += 1
        drop = {x for x in alive if deg[x] < k}
        if not drop:
            break
        r += 1
        for x in drop:
            expect[x] = r
        alive -= drop
    for x in alive:
        expect[x] = 0
    rounds_needed = r

    for budget in (rounds_needed, rounds_needed + 3):
        got = {row.id: row.peel_round for row in kcore_peel(edges, k, budget).collect()}
        assert got == expect
    assert rounds_needed >= 2  # the fixture actually exercises multi-round peeling


def test_jaccard_hot_shingle_cap(spark):
    """Document-frequency cap: stop-shingles are excluded from blocking (the
    candidate join stays bounded on a boilerplate-heavy corpus) while the
    Jaccard value of surviving pairs stays EXACT."""
    from thymeflow_back_spark.operators.dedup import jaccard_pairs, word_shingles

    # every doc shares the same boilerplate prefix; only (0, 1) share real text
    boiler = "all rights reserved by the example corporation"
    rows = [(0, boiler + " alpha beta gamma delta"), (1, boiler + " alpha beta gamma delta")]
    rows += [(i, f"{boiler} unique{i} text{i} body{i} tail{i}") for i in range(2, 30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(docs, "doc_id", "text", 3)

    capped = jaccard_pairs(sh, "doc_id", threshold=0.3, max_doc_freq=5).collect()
    exact = {
        (r.a_id, r.b_id): (r.n_common, round(r.jaccard, 9))
        for r in jaccard_pairs(sh, "doc_id", threshold=0.3).collect()
    }
    assert {(r.a_id, r.b_id) for r in capped} == {(0, 1)}
    # verification recomputes against FULL shingle sets: boilerplate shingles
    # still count toward n_common/jaccard even though they were not blockable
    got = {(r.a_id, r.b_id): (r.n_common, round(r.jaccard, 9)) for r in capped}
    assert got[(0, 1)] == exact[(0, 1)]


def test_prefix_filtered_jaccard_matches_plain(spark):
    """Prefix filtering is exact-recall: on a corpus with shared boilerplate
    (hot shingles that the prefix excludes from blocking) and varied document
    lengths, the PPJoin path returns byte-identical pairs + values to the
    plain all-shingle-blocked join."""
    from thymeflow_back_spark.operators.dedup import (
        jaccard_near_dups,
        prefix_filtered_near_dups,
    )

    boiler = "all rights reserved by the example corporation"
    rows = [
        (0, boiler + " alpha beta gamma delta epsilon"),
        (1, boiler + " alpha beta gamma delta epsilon"),
        (2, boiler + " alpha beta gamma delta zeta"),
        # same suffix, no boilerplate: the pair (3, 4) meets only on rare
        # shingles — exercises the prefix side rather than the filter side
        (3, "alpha beta gamma delta epsilon"),
        (4, "alpha beta gamma delta epsilon eta"),
        # long doc vs short doc: exercises the t*max length filter
        (5, boiler + " " + " ".join(f"w{i}" for i in range(40))),
    ]
    rows += [(10 + i, f"{boiler} unique{i} text{i} body{i} tail{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for t in (0.3, 0.5, 0.8):
        plain = {
            (r.a_id, r.b_id): (r.n_common, round(r.jaccard, 9))
            for r in jaccard_near_dups(docs, "doc_id", "text", 3, t).collect()
        }
        pref = {
            (r.a_id, r.b_id): (r.n_common, round(r.jaccard, 9))
            for r in prefix_filtered_near_dups(docs, "doc_id", "text", 3, t).collect()
        }
        assert pref == plain
        assert plain  # non-vacuous: the corpus does contain near-dups


def test_prefix_filtered_jaccard_float_boundary(spark):
    """Integer-exact theorem bounds: at t=0.07 the double product
    0.07*100 == 7.000000000000001, so float arithmetic would (a) shorten
    A's prefix to 93 when the theorem requires 94 and (b) reject the
    length-boundary pair |B| == t*|A| exactly. |A|=100, |B|=7 shingles
    with B's shingles a subset of A's gives Jaccard 7/100 == t exactly and
    the smallest common shingle at rank 94 of A's (df, shingle) order —
    both former float bugs would each drop this pair."""
    from thymeflow_back_spark.operators.dedup import (
        jaccard_near_dups,
        prefix_filtered_near_dups,
    )

    b_words = [f"v{i}" for i in range(9)]  # 7 shingles
    rows = [
        (100, " ".join(b_words)),
        (101, " ".join(b_words + [f"u{i}" for i in range(93)])),  # 100 shingles
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (jaccard_near_dups, prefix_filtered_near_dups):
        got = {(r.a_id, r.b_id) for r in fn(docs, "doc_id", "text", 3, 0.07).collect()}
        assert got == {(100, 101)}, fn.__name__


def test_fts_index_hot_token_cap(spark):
    from thymeflow_back_spark.operators.fts import build_index

    rows = [(i, f"common word{i}") for i in range(10)]
    ents = spark.createDataFrame(rows, "id long, text string")
    idx = build_index(ents, "id", "text", max_doc_freq=5)
    toks = {r.token for r in idx.collect()}
    assert "common" not in toks and "word3" in toks


def test_top_k_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("g1", 1, 10.0), ("g1", 2, 10.0), ("g1", 3, 5.0), ("g2", 4, 1.0)],
        "g string, id long, v double",
    )
    got = {
        (r.g, r.id)
        for r in top_k_per_group(df, ["g"], [F.desc("v"), F.asc("id")], k=1).collect()
    }
    assert got == {("g1", 1), ("g2", 4)}


def test_graphml_serialization(spark):
    """GraphML export of a CC-style node/edge set (reference GraphML.scala):
    well-formed XML, typed keys, escaped attribute text."""
    import xml.etree.ElementTree as ET

    from thymeflow_back_spark.operators.graphml import graphml_string

    nodes = spark.createDataFrame(
        [("a", "A & B", 3), ("b", '<quoted> "x"', 1), ("c", None, 2)],
        "id string, label string, weight bigint",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.5), ("b", "c", 1.25)],
        "src string, dst string, cost double",
    )
    text = graphml_string(nodes, edges, graph_id="CC", directed=True)
    root = ET.fromstring(text)  # parses ⇒ escaping is correct
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    keys = {k.get("id"): (k.get("for"), k.get("attr.type")) for k in root.findall(f"{ns}key")}
    assert keys == {"label": ("node", "string"), "weight": ("node", "long"),
                    "cost": ("edge", "double")}
    graph = root.find(f"{ns}graph")
    assert graph.get("edgedefault") == "directed"
    node_els = {n.get("id"): n for n in graph.findall(f"{ns}node")}
    assert set(node_els) == {"a", "b", "c"}
    assert node_els["a"].find(f"{ns}data").text == "A & B"
    assert node_els["b"].find(f"{ns}data").text == '<quoted> "x"'
    # NULL attribute → no data element for it (weight remains)
    c_data = {d.get("key"): d.text for d in node_els["c"].findall(f"{ns}data")}
    assert c_data == {"weight": "2"}
    edge_els = {(e.get("source"), e.get("target")) for e in graph.findall(f"{ns}edge")}
    assert edge_els == {("a", "b"), ("b", "c")}


def test_salted_join_and_agg_match_plain(spark):
    """Salting preserves semantics: a skewed fact×dim join and a skewed
    aggregation produce exactly the plain results, just spread over more
    reducers (the salt sub-key scatters the hot key)."""
    from thymeflow_back_spark.operators.skew import salted_agg, salted_join

    # 90% of fact rows hit one hot key
    facts = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}", float(i)) for i in range(1000)],
        "id long, k string, v double",
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i * 10}", f"D{i}") for i in range(100)],
        "k string, label string",
    )
    plain = {(r.id, r.label) for r in facts.join(dim, "k").collect()}
    salted = {(r.id, r.label) for r in salted_join(facts, dim, ["k"], salt=8).collect()}
    assert salted == plain and len(plain) > 900

    # sums rounded: the two-phase combine adds in a different order, so
    # bit-exact equality is not guaranteed for floats — semantics are
    agg_plain = {
        (r.k, r.count_n, round(r.sum_v, 6), r.min_v)
        for r in facts.groupBy("k")
        .agg(F.count("*").alias("count_n"), F.sum("v").alias("sum_v"), F.min("v").alias("min_v"))
        .collect()
    }
    agg_salted = {
        (r.k, r.count_n, round(r.sum_v, 6), r.min_v)
        for r in salted_agg(
            facts,
            ["k"],
            {"count_n": F.count("*"), "sum_v": F.sum("v"), "min_v": F.min("v")},
            salt=8,
        ).collect()
    }
    assert agg_salted == agg_plain


def test_salted_join_rejects_right_preserving_how(spark):
    """right/full outer through a salted join would emit every unmatched
    right row once per salt copy — rejected loudly (round-3 ADVICE)."""
    from thymeflow_back_spark.operators.skew import salted_join

    a = spark.createDataFrame([("k1", 1)], "k string, v int")
    b = spark.createDataFrame([("k2", 2)], "k string, w int")
    for how in ("right", "right_outer", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="left-preserving"):
            salted_join(a, b, ["k"], how=how)
    # left outer stays sound: the left side is salted, not replicated
    rows = salted_join(a, b, ["k"], how="left", salt=4).collect()
    assert [(r.k, r.v, r.w) for r in rows] == [("k1", 1, None)]


def test_salted_agg_rejects_non_decomposable_names(spark):
    """avg/count_distinct partials cannot be re-combined by SUM across
    salt buckets; names outside the sum_/min_/max_/count convention raise
    instead of silently producing wrong values (round-3 ADVICE)."""
    from thymeflow_back_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("k", 1.0), ("k", 3.0)], "k string, v double")
    with pytest.raises(ValueError, match="avg"):
        salted_agg(df, ["k"], {"avg_v": F.avg("v")})


def test_salted_agg_rejects_count_distinct_prefix(spark):
    """'count_distinct_*' starts with 'count' but is NOT sum-recombinable —
    the guard must not let the prefix check wave it through."""
    from thymeflow_back_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("k", 1.0), ("k", 3.0)], "k string, v double")
    with pytest.raises(ValueError, match="count_distinct"):
        salted_agg(df, ["k"], {"count_distinct_v": F.countDistinct("v")})


def test_salted_agg_rejects_smuggled_expression(spark):
    """The guard validates the Column's actual aggregate function, not just
    the alias: a countDistinct under a conforming 'count_*' name (or an avg
    under 'sum_*') would be silently SUM-recombined into wrong values."""
    from thymeflow_back_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("k", 1.0), ("k", 3.0)], "k string, v double")
    with pytest.raises(ValueError, match="count_rows"):
        salted_agg(df, ["k"], {"count_rows": F.countDistinct("v")})
    with pytest.raises(ValueError, match="sum_v"):
        salted_agg(df, ["k"], {"sum_v": F.avg("v")})
    with pytest.raises(ValueError, match="min_v"):
        salted_agg(df, ["k"], {"min_v": F.sum("v")})  # combiner mismatch
    # conforming name + conforming expression still works
    out = {
        r.k: (r.sum_v, r.min_v)
        for r in salted_agg(
            df, ["k"], {"sum_v": F.sum("v"), "min_v": F.min("v")}, salt=4
        ).collect()
    }
    assert out == {"k": (4.0, 1.0)}


def test_canonical_url_unparseable_falls_back_to_raw(spark):
    """Malformed URLs must NOT collapse into one NULL dedup key."""
    from thymeflow_back_spark.operators.urls import canonical_url

    df = spark.createDataFrame(
        [(1, "example.com/p"), (2, "mailto:x@y.z"), (3, "https://a.com/b")],
        "id long, url string",
    )
    got = {r["id"]: r["c"] for r in df.select("id", canonical_url(F.col("url")).alias("c")).collect()}
    assert got[1] == "example.com/p"  # raw fallback, not NULL
    assert got[2] == "mailto:x@y.z"
    assert got[3] == "https://a.com/b"
    assert len(set(got.values())) == 3


def test_histogram_quantiles_ignore_nulls(spark):
    """NULL values must not inflate the count or occupy a bucket: every
    requested quantile comes back, computed over the non-null values."""
    from thymeflow_back_spark.operators.sketch import histogram_quantiles

    rows = [(float(i),) for i in range(1, 101)] + [(None,)] * 50
    df = spark.createDataFrame(rows, "x double")
    got = {
        r["quantile"]: r["est"]
        for r in histogram_quantiles(df, "x", (0.1, 0.5, 0.99), n_buckets=20).collect()
    }
    assert set(got) == {0.1, 0.5, 0.99}
    assert all(v is not None for v in got.values())
    assert 1.0 <= got[0.1] <= 20.0 and got[0.99] >= 90.0


def test_shingle_cache_pins_and_matches(spark):
    """set_shingle_cache(True) memoizes identical shingle plans (one
    persisted materialization shared by every dedup variant — the bench
    harness opt-in) without changing any result; disabling unpersists
    and restores fresh plans."""
    from thymeflow_back_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("epsilon" if i % 2 else "zeta"))
         for i in range(6)],
        "doc_id long, text string",
    )
    base = {
        (r.a_id, r.b_id): (r.n_common, round(r.jaccard, 9))
        for r in D.jaccard_near_dups(docs, "doc_id", "text", 3, 0.5).collect()
    }
    assert base
    try:
        D.set_shingle_cache(True)
        a = D.doc_shingles(docs, "doc_id", "text", 3)
        b = D.doc_shingles(docs, "doc_id", "text", 3)
        assert a is b and a.storageLevel.useMemory
        cached = {
            (r.a_id, r.b_id): (r.n_common, round(r.jaccard, 9))
            for r in D.jaccard_near_dups(docs, "doc_id", "text", 3, 0.5).collect()
        }
        assert cached == base
        lsh = D.minhash_near_dups(docs, "doc_id", "text", 3, 0.5)
        assert {(r.a_id, r.b_id) for r in lsh.collect()} == set(base)
    finally:
        D.set_shingle_cache(False)
    fresh = D.doc_shingles(docs, "doc_id", "text", 3)
    assert fresh is not a and not fresh.storageLevel.useMemory
    assert not a.storageLevel.useMemory  # disabled -> unpersisted
