"""Training-data pipeline operators: sampling, prefix sums, packing,
contamination."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from thymeflow_back_spark.operators.dedup import benchmark_contamination
from thymeflow_back_spark.operators.packing import distributed_prefix_sum, pack_chunks
from thymeflow_back_spark.operators.sampling import (
    stratified_sample,
    train_test_split,
)


def _u(salt: str, key: int) -> float:
    h = hashlib.md5(f"{salt}:{key}".encode()).hexdigest()
    return int(h[:8], 16) / 2**32


def test_stratified_sample_rates_and_default(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    rates = {"0": 1.0, "1": 0.5}
    got = {r.k for r in stratified_sample(df, "k", "g", rates, default_rate=0.0).collect()}
    want = set()
    for k in range(300):
        g = str(k % 3)
        rate = rates.get(g, 0.0)
        if _u("sample", k) < rate:
            want.add(k)
    assert got == want
    assert all(k % 3 == 0 or k % 3 == 1 for k in got)  # default stratum excluded
    assert {k for k in got if k % 3 == 0} == {k for k in range(300) if k % 3 == 0}


def test_train_test_split_stable_under_growth(spark):
    small = spark.range(0, 200).withColumnRenamed("id", "k")
    big = spark.range(0, 400).withColumnRenamed("id", "k")
    split_small = {r.k: r.split for r in train_test_split(small, "k", 0.25).collect()}
    split_big = {r.k: r.split for r in train_test_split(big, "k", 0.25).collect()}
    for k, s in split_small.items():
        assert split_big[k] == s  # growing the corpus never moves a doc
    assert 0.1 < sum(s == "test" for s in split_big.values()) / 400 < 0.4


def test_distributed_prefix_sum_matches_sequential(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(-5, 20)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(13)
    out = {
        r.k: (r.prefix, r.v)
        for r in distributed_prefix_sum(df, "k", "v", num_partitions=8).collect()
    }
    running = 0
    for k, v in rows:
        running += v
        assert out[k] == (running, v), k
    # exclusive variant
    out_ex = {
        r.k: r.prefix
        for r in distributed_prefix_sum(
            df, "k", "v", exclusive=True, num_partitions=8
        ).collect()
    }
    running = 0
    for k, v in rows:
        assert out_ex[k] == running, k
        running += v


def test_pack_chunks_assigns_by_starting_token(spark):
    rows = [(1, 100), (2, 50), (3, 80), (4, 10), (5, 300), (6, 1)]
    df = spark.createDataFrame(rows, ["k", "tok"])
    got = {r.k: r.chunk_id for r in pack_chunks(df, "k", "tok", 128).collect()}
    # cumulative-before: 0, 100, 150, 230, 240, 540
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 4}


def test_kmv_estimate_exact_below_k_and_plausible_above(spark):
    from thymeflow_back_spark.operators.sketch import kmv_estimate

    small = spark.range(0, 40).select(F.col("id").cast("string").alias("v"))
    row = kmv_estimate(small, "v", 64).collect()[0]
    assert row.k_used == 40 and row.est_distinct == 40.0  # exhaustive regime

    big = spark.range(0, 20000).select((F.col("id") % 5000).cast("string").alias("v"))
    row = kmv_estimate(big, "v", 256).collect()[0]
    assert row.k_used == 256
    assert 4000 < row.est_distinct < 6000  # ~5000 within KMV error bounds


def test_kmv_ignores_nulls(spark):
    """NULL is not a value: the sketch of a column with NULLs equals the
    sketch of the same column without them (a NULL hash would sort FIRST
    in Spark but LAST in DuckDB, occupying a minima slot on one engine)."""
    from thymeflow_back_spark.operators.sketch import kmv_estimate

    vals = spark.range(0, 100).select(F.col("id").cast("string").alias("v"))
    with_nulls = vals.unionByName(
        spark.range(0, 3).select(F.lit(None).cast("string").alias("v"))
    )
    clean = kmv_estimate(vals, "v", 32).collect()[0]
    dirty = kmv_estimate(with_nulls, "v", 32).collect()[0]
    assert (dirty.k_used, dirty.kth_min, dirty.est_distinct) == (
        clean.k_used, clean.kth_min, clean.est_distinct,
    )


def test_cm_absent_probe_reports_zero(spark):
    """A probe never inserted must report cm_est=0 (empty cells count as 0,
    min over rows includes them) — not vanish, not echo a collision."""
    from thymeflow_back_spark.operators.sketch import cm_estimate, cm_sketch

    stream = spark.range(0, 50).select((F.col("id") % 7).cast("string").alias("v"))
    sketch = cm_sketch(stream, "v")
    probes = spark.createDataFrame(
        [("3",), ("never-inserted",)], "v string"
    )
    got = {r.v: r.cm_est for r in cm_estimate(sketch, probes, "v").collect()}
    assert got["never-inserted"] == 0
    assert got["3"] >= 7  # "3" occurs 7 times (ids 3,10,…,45); CM never underestimates


def test_hll_estimate_accuracy_and_mergeability(spark):
    from thymeflow_back_spark.operators.sketch import (
        hll_estimate,
        hll_estimate_from_registers,
        hll_registers,
    )

    df = spark.range(0, 12000).select((F.col("id") % 5000).cast("string").alias("v"))
    row = hll_estimate(df, "v").collect()[0]
    assert row.m == 256 and row.zeros == 0
    # m=256 -> relative error ~1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert 4000 < row.est_distinct < 6000

    # the register file is a pure function of the value SET: the sketch of
    # two overlapping halves' union equals the whole-stream sketch, and the
    # estimate read back from registers equals the one-pass estimate
    left = df.filter(F.col("v").cast("int") < 3000)
    right = df.filter(F.col("v").cast("int") >= 2000)
    union = hll_registers(left.unionByName(right), "v")
    whole = {r.register: r.rho for r in hll_registers(df, "v").collect()}
    assert {r.register: r.rho for r in union.collect()} == whole
    est_m = hll_estimate_from_registers(union).collect()[0]
    assert est_m.est_distinct == row.est_distinct

    # linear-counting regime: tiny cardinality leaves empty registers and
    # the corrected estimate lands near the true count
    tiny = spark.range(0, 30).select(F.col("id").cast("string").alias("v"))
    trow = hll_estimate(tiny, "v").collect()[0]
    assert trow.zeros > 0 and 25 <= trow.est_distinct <= 36


def _brute_jaccard_pairs(docs, n=3, threshold=0.5):
    def sh(text):
        toks = [t for t in text.split(" ") if t]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: sh(t) for i, t in docs}
    out = {}
    ids = sorted(sets)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out[(a, b)] = (inter, inter / union)
    return out


def test_incremental_agg_matches_recompute_and_drops_empty_groups(spark):
    from thymeflow_back_spark.operators.incremental import (
        additive_agg_state,
        apply_delta,
    )

    rows = [("a", 1), ("a", 2), ("b", 5), ("c", 7)]
    df = spark.createDataFrame(rows, ["k", "x"])
    sums = {"sx": F.col("x").cast("long")}
    state = additive_agg_state(df, ["k"], sums)

    add = spark.createDataFrame([("a", 10), ("d", 4)], ["k", "x"])
    rem = spark.createDataFrame([("a", 1), ("b", 5)], ["k", "x"])
    got = {r.k: (r.n, r.sx) for r in apply_delta(state, add, rem, ["k"], sums).collect()}
    # recompute of (rows + add - rem): a:{2,10}, c:{7}, d:{4}; b fully retracted
    assert got == {"a": (2, 12), "c": (1, 7), "d": (1, 4)}

    # advancing twice equals one recompute over the composed diff
    st2 = apply_delta(state, add, rem, ["k"], sums)
    add2 = spark.createDataFrame([("b", 9)], ["k", "x"])
    rem2 = spark.createDataFrame([("c", 7)], ["k", "x"])
    got2 = {r.k: (r.n, r.sx) for r in apply_delta(st2, add2, rem2, ["k"], sums).collect()}
    assert got2 == {"a": (2, 12), "b": (1, 9), "d": (1, 4)}


def test_bloom_semijoin_sound_and_broadcast_only(spark):
    from thymeflow_back_spark.operators.bloom import BLOOM_K, bloom_build, bloom_probe

    dim = spark.range(0, 200).select((F.col("id") * 3).alias("k"))
    facts = spark.range(0, 2000).select(F.col("id").alias("key"))
    bloom = bloom_build(dim, "k")
    surv = bloom_probe(facts, "key", bloom)

    # no false negatives: every true member survives
    kept = {r.key for r in surv.collect()}
    members = {i * 3 for i in range(200)}
    assert members <= kept
    # the filter actually filters (vast majority of non-members drop)
    assert len(kept) < 2000 * 0.2

    # the probe is pure broadcast: k BroadcastHashJoins, and the fact
    # lineage crosses no Exchange (the build side's groupBy is the only
    # shuffle in the whole plan)
    plan = surv._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-AQE plan too
    assert plan.count("BroadcastHashJoin") == BLOOM_K
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # saturate the filter: with ~64k usable bits, 40k keys * 4 hashes set
    # most of them, so false positives must appear (and remain a superset)
    big = spark.range(0, 40000).select(F.col("id").alias("k"))
    sat = bloom_probe(facts, "key", bloom_build(big, "k"))
    sat_kept = {r.key for r in sat.collect()}
    assert set(range(2000)) >= sat_kept >= members
    assert len(sat_kept) > 1900  # nearly everything passes a saturated filter


def test_pagerank_fixed_point_properties(spark):
    from thymeflow_back_spark.operators.pagerank import PR_SCALE, pagerank

    # symmetric 4-cycle: ranks stay equal, and within floor-loss of S/n
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    cyc = spark.createDataFrame([(i, (i + 1) % 4) for i in range(4)], ["src", "dst"])
    got = {r.id: r.rank_scaled for r in pagerank(nodes, cyc, 4).collect()}
    assert len(set(got.values())) == 1
    assert PR_SCALE // 4 - 10 <= got[0] <= PR_SCALE // 4

    # bidirectional star: the hub aggregates whole leaf ranks while each
    # leaf gets a third of the hub's, so hub > leaf from iteration 1 on
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 4)] + [(0, i) for i in range(1, 4)],
        ["src", "dst"],
    )
    ranks = {r.id: r.rank_scaled for r in pagerank(nodes, star, 4).collect()}
    assert ranks[0] > max(ranks[i] for i in (1, 2, 3))
    # total mass is conserved up to integer floor losses
    assert PR_SCALE - 200 <= sum(ranks.values()) <= PR_SCALE


def test_url_canonicalization_edge_cases(spark):
    from thymeflow_back_spark.operators.urls import canonicalize_urls

    cases = [
        # (url, expected_canonical, expected_domain)
        ("https://WWW.Example.COM/a/b/?utm_source=x&z=1&a=2#frag",
         "https://example.com/a/b?a=2&z=1", "example.com"),
        # all params are tracking -> no query part at all
        ("http://site.org/p?utm_a=1&utm_b=2", "http://site.org/p", "site.org"),
        # empty path -> '/', params sorted
        ("https://news.bbc.co.uk?b=2&a=1", "https://news.bbc.co.uk/?a=1&b=2",
         "bbc.co.uk"),
        # root slash kept, fragment dropped
        ("https://x.example.com/#top", "https://x.example.com/", "example.com"),
        # www-only strip happens once, at the front
        ("https://www.www-stats.net/d/", "https://www-stats.net/d",
         "www-stats.net"),
        # non-default port preserved: :8080 is a different origin
        ("http://Example.com:8080/page/", "http://example.com:8080/page",
         "example.com"),
        # default ports stripped (https:443 / http:80)
        ("https://www.example.com:443/page", "https://example.com/page",
         "example.com"),
        ("http://example.com:80/?b=2&a=1", "http://example.com/?a=1&b=2",
         "example.com"),
        # userinfo dropped, port still seen through the authority
        ("https://user:pw@example.com:9443/x", "https://example.com:9443/x",
         "example.com"),
    ]
    df = canonicalize_urls(
        spark.createDataFrame([(u,) for u, _, _ in cases], ["url"]), "url"
    )
    got = {r.url: (r.canonical, r.domain) for r in df.collect()}
    for url, canon, dom in cases:
        assert got[url] == (canon, dom), (url, got[url])


def test_jaccard_near_dups_matches_bruteforce_random_corpora(spark):
    """Randomized (seeded) corpora: blocked plan == all-pairs brute force."""
    import random

    from thymeflow_back_spark.operators.dedup import jaccard_near_dups

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(30)]
        docs = []
        for i in range(60):
            if i % 3 == 0 and i > 0:
                base = docs[rng.randrange(len(docs))][1].split(" ")
                k = rng.randrange(0, 3)
                mutated = list(base)
                for _ in range(k):
                    mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
                docs.append((i, " ".join(mutated)))
            else:
                docs.append(
                    (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 15))))
                )
        want = _brute_jaccard_pairs(docs)
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r.a_id, r.b_id): (r.n_common, r.jaccard)
            for r in jaccard_near_dups(df, "doc_id", "text").collect()
        }
        assert got == want, f"seed {seed}"


def test_minhash_near_dups_sound_and_finds_exact_dups(spark):
    """LSH pairs are always TRUE near-dups (verify stage is exact), and
    exact duplicates are always found (identical signatures collide)."""
    import random

    from thymeflow_back_spark.operators.dedup import minhash_near_dups

    rng = random.Random(9)
    vocab = [f"w{j}" for j in range(40)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(12))) for i in range(40)]
    docs += [(100 + i, docs[i][1]) for i in range(5)]  # exact dups
    want = _brute_jaccard_pairs(docs)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in minhash_near_dups(df, "doc_id", "text").collect()
    }
    assert set(got) <= set(want)  # soundness: no false positives survive
    for i in range(5):
        assert got[(i, 100 + i)] == 1.0  # exact dups guaranteed recalled


def test_sq8_roundtrip_error_bounded(spark):
    import random

    from thymeflow_back_spark.operators.quantize import sq8_roundtrip

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(50)]
    rows.append((99, [1.25] * 16))  # constant vector: scale-0 guard
    df = spark.createDataFrame(rows, ["id", "v"])
    out = {r.id: (r.v, r.vec_q) for r in sq8_roundtrip(df, "v").collect()}
    for i, (v, vq) in out.items():
        mn, mx = min(v), max(v)
        half_bucket = (mx - mn) / 255 / 2
        for x, xq in zip(v, vq):
            assert abs(x - xq) <= half_bucket + 1e-12, (i, x, xq)
    assert out[99][1] == [1.25] * 16


def test_quality_filter_length_guard_skips_quadratic_scan(spark):
    from thymeflow_back_spark.operators.text import quality_filter

    long_doc = " ".join(f"w{i}" for i in range(6000))  # > QF_MAX_WORDS
    df = spark.createDataFrame(
        [(1, long_doc), (2, "the quick brown fox jumps over a lazy dog now")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in quality_filter(df, "doc_id").collect()}
    assert got[1].drop_reason == "too_many_words" and got[1].rep_ratio is None
    assert got[2].keep and got[2].rep_ratio is not None


def test_chunk_documents_windows_and_edges(spark):
    from thymeflow_back_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks, size 4 stride 2
            (2, "only three tokens"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    rows = chunk_documents(df, "doc_id", "text", size=4, stride=2).collect()
    got = {(r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text) for r in rows}
    # doc 1: starts 0,2,4,6,8 — last window is the 2-token tail
    assert got[(1, 0)] == (4, "t0 t1 t2 t3")
    assert got[(1, 1)] == (4, "t2 t3 t4 t5")
    assert got[(1, 4)] == (2, "t8 t9")
    assert len([k for k in got if k[0] == 1]) == 5
    assert got[(2, 0)] == (3, "only three tokens")
    assert got[(2, 1)] == (1, "tokens")
    assert got[(3, 0)] == (0, "")


def test_pii_scrub_patterns_and_order(spark):
    from thymeflow_back_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@sub.example.org now"),
            (2, "server at 192.168.1.10 up"),  # IP must NOT count as phone
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text nothing here"),
            (5, "a@b.io and 10.0.0.1 and +44 20 7946 0958"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in pii_scrub(df, "doc_id").collect()}
    assert (got[1].n_emails, got[1].clean) == (1, "mail [EMAIL] now")
    assert (got[2].n_ips, got[2].n_phones, got[2].clean) == (1, 0, "server at [IP] up")
    assert got[3].n_phones == 1 and got[3].clean == "call [PHONE] today"
    assert (got[4].n_emails, got[4].n_ips, got[4].n_phones) == (0, 0, 0)
    assert (got[5].n_emails, got[5].n_ips, got[5].n_phones) == (1, 1, 1)
    assert got[5].clean == "[EMAIL] and [IP] and [PHONE]"


def test_benchmark_contamination(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # contains probe 4-gram
            (2, "zeta eta theta iota kappa"),  # clean
            (3, "x alpha beta gamma delta y"),  # same probe 4-gram mid-doc
        ],
        ["doc_id", "text"],
    )
    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "unrelated words only here")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_shared_shingles, r.n_benchmark_docs)
        for r in benchmark_contamination(corpus, probe, "doc_id", "text", 4).collect()
    }
    assert got == {1: (1, 1), 3: (1, 1)}


def test_duplicated_window_fraction(spark):
    from thymeflow_back_spark.operators.dedup import duplicated_window_fraction

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),     # windows: "a b", "b c", "c d", "d e"
            (2, "x y a b c"),     # shares "a b", "b c" with doc 1
            (3, "p q r"),         # no shared windows
            (4, "z"),             # too short for any window
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in duplicated_window_fraction(docs, "doc_id", "text", w=2).collect()
    }
    assert rows[1].n_windows == 4 and rows[1].n_dup_windows == 2
    assert rows[1].dup_fraction == 0.5
    assert rows[2].n_windows == 4 and rows[2].n_dup_windows == 2
    assert rows[3].n_dup_windows == 0 and rows[3].dup_fraction == 0.0
    assert 4 not in rows  # zero windows -> no row (matches the SQL oracle)
    # repeat INSIDE one doc only is not cross-document duplication
    solo = spark.createDataFrame(
        [(1, "a b a b"), (2, "q r s")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n_dup_windows
        for r in duplicated_window_fraction(solo, "doc_id", "text", w=2).collect()
    }
    assert got == {1: 0, 2: 0}


def test_scrub_repeated_spans(spark):
    from thymeflow_back_spark.operators.dedup import scrub_repeated_spans

    # span size 2; "SAME SPAN" appears in 3 docs -> boilerplate
    docs = spark.createDataFrame(
        [
            (1, "SAME SPAN keep one"),
            (2, "SAME SPAN keep two"),
            (3, "SAME SPAN keep thr"),
            (4, "only unique words here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in scrub_repeated_spans(
            docs, "doc_id", "text", span_tokens=2, min_docs=3
        ).collect()
    }
    assert rows[1].clean_text == "keep one" and rows[1].n_removed == 1
    assert rows[2].clean_text == "keep two" and rows[2].n_spans == 2
    assert rows[4].clean_text == "only unique words here"
    assert rows[4].n_removed == 0
    # order preserved when a middle span is scrubbed
    docs2 = spark.createDataFrame(
        [
            (1, "aa bb DUP DUP cc dd"),
            (2, "DUP DUP x1 x2"),
            (3, "DUP DUP y1 y2"),
        ],
        "doc_id long, text string",
    )
    rows2 = {
        r.doc_id: r.clean_text
        for r in scrub_repeated_spans(
            docs2, "doc_id", "text", span_tokens=2, min_docs=3
        ).collect()
    }
    assert rows2[1] == "aa bb cc dd"


def test_histogram_sketch_merges_cellwise(spark):
    """Quantile estimates from the bucket histogram land within one bucket
    width of the exact value."""
    from pyspark.sql import functions as F

    from thymeflow_back_spark.operators.sketch import histogram_quantiles

    df = spark.range(0, 10000).select((F.col("id") * F.col("id")).cast("double").alias("x"))
    w = 9999.0 * 9999.0 / 256
    qs = {r["quantile"]: r for r in histogram_quantiles(df, "x", (0.5, 0.99)).collect()}
    exact_p50 = 4999.0 * 4999.0  # rank ceil(.5*10000) = 5000 -> id 4999
    assert abs(qs[0.5]["est"] - exact_p50) <= w


def test_text_ops_degenerate_documents(spark):
    """Empty, whitespace-only, and NULL texts: token_stats must not raise
    ANSI DIVIDE_BY_ZERO (NULL ratios instead), and quality_filter must DROP
    all three as too_few_words — a NULL text used to sail through the gate
    because every rule comparison evaluated to NULL."""
    from thymeflow_back_spark.operators.text import quality_filter, token_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "a real document with some text")],
        "id long, text string",
    )
    stats = {r["id"]: r for r in token_stats(df, "id").collect()}
    for i in (1, 2, 3):
        assert stats[i]["n_tokens"] == 0
        assert stats[i]["avg_token_len"] is None
        assert stats[i]["stopword_ratio"] is None
    assert stats[3]["n_chars"] == 0
    assert stats[4]["n_tokens"] == 6

    qf = {r["id"]: r for r in quality_filter(df, "id").collect()}
    for i in (1, 2, 3):
        assert qf[i]["keep"] is False
        assert qf[i]["drop_reason"] == "too_few_words"


def test_pretokenizer_matches_python_re(spark):
    """The RE2-compatible GPT-2-ish pretokenizer splits identically to a
    local Python re replay on adversarial strings (contractions, unicode
    letters, digit runs, punct runs, mixed whitespace). Python re lacks
    \\p classes, so the replay substitutes equivalent unicode-aware
    classes ([^\\W\\d_] for letters, \\d for numbers) — exact for
    these fixtures."""
    import re

    from pyspark.sql import functions as F

    from thymeflow_back_spark.operators.text import pretokens_col

    pat = re.compile(
        r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?[^\s\w]+|\s+",
        re.UNICODE,
    )
    texts = [
        "hello world's fine, 42 times!",
        "  a  b\tc\nd",
        "don't stop-me 3.14 ... x'll y've",
        "caf\u00e9 \u00fcber stra\u00dfe 99",
        "",
        "!!!",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r["p"] for r in df.select(pretokens_col("text").alias("p")).collect()]
    want = [pat.findall(t) for t in texts]
    assert got == want
