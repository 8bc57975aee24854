"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

These are the training-data-pipeline operators layered on top of the
reference's entity-resolution machinery (token-blocking similarity joins —
AgentMatchEnricher.scala:249-334 — generalized to document near-dup at scale).

Scale design:
- Exact dedup: one hash-groupBy on md5(text) — a single shuffle.
- Jaccard join: explode distinct shingles → equi-join on shingle → count-based
  Jaccard. The shingle join is blocking: only documents sharing a shingle
  meet, never a cross product. Frequent-shingle skew is handled by AQE's
  skew-join splitting (and could add a document-frequency cap).
- MinHash+LSH: fixed-size signatures (NUM_PERMS) per doc → band buckets →
  candidates only within a bucket → verify true Jaccard on candidates. At
  100 TB, the signature table is ~num_perms·8 bytes/doc and the band join is
  the only shuffle that matters.
- SimHash: 60-bit fingerprint per doc; banding on 4×15-bit chunks guarantees
  every pair within Hamming distance 3 shares a band (pigeonhole), so the
  candidate join is an equi-join, then an exact popcount filter.

Portability: every hash derives from md5 hex (identical across engines);
permutations are (a·h + b) mod P over the 31-bit prime P so the whole
pipeline is bit-reproducible in ANSI SQL (see queries/dedup.py oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cachereg import pin

# 31-bit Mersenne prime: a·h + b stays < 2^62, no signed-64 overflow.
MERSENNE_P = 2147483647

# Deterministic permutation constants (random.Random(42), fixed forever —
# the SQL oracles embed the same literals).
MINHASH_PERMS: list[tuple[int, int]] = [
    (1373158607, 239081663), (53710185, 1592467581), (590620972, 525901256),
    (479341424, 299655412), (1581559893, 220106707), (1453201079, 1590571865),
    (1915941033, 1171165722), (186699714, 1268073012), (906070221, 68252793),
    (63989048, 201209005), (469521478, 499635468), (1085242217, 1292825378),
    (56985562, 1205264595), (427000597, 1537640408), (1395616197, 1506083910),
    (1170252924, 900911954),
]
NUM_PERMS = len(MINHASH_PERMS)
LSH_BANDS = 4
ROWS_PER_BAND = NUM_PERMS // LSH_BANDS

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits signed 64-bit
SIMHASH_BANDS = 4  # 15 bits per band; guarantees recall for hamming <= 3


def h32(col: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5, as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def h60(col: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per (id, token) occurrence; empty tokens dropped."""
    return df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")


def shingle_array_sql(text_col: str, n: int) -> str:
    """SQL expression: DISTINCT word n-gram shingles of ``text_col`` as an array.

    Map-side only — the distinct is array_distinct inside the row, so no
    shuffle is ever needed to get per-document shingle sets. At 100 TB this
    is the load-bearing choice: every dedup variant starts from this
    projection, and a per-(id, shingle) dropDuplicates here would be a full
    corpus shuffle before any real work started.
    """
    toks = f"filter(split({text_col}, ' '), t -> t != '')"
    # The token array is BOUND ONCE as a lambda variable (array(toks) ->
    # transform) — naively referencing the filter(split(...)) subexpression
    # at each use site gets inlined by Catalyst and re-tokenizes the document
    # PER SHINGLE INDEX (measured 4.4× slower at sf0.1).
    return (
        f"array_distinct(flatten(transform(array({toks}), toks ->"
        f" transform("
        f"  if(size(toks) >= {n}, sequence(0, size(toks) - {n}), cast(array() as array<int>)),"
        f"  i -> concat_ws(' ', slice(toks, i + 1, {n}))))))"
    )


_SHINGLE_CACHE: dict[int, DataFrame] | None = None


def set_shingle_cache(enabled: bool) -> None:
    """Opt-in pinning of the tokenize/shingle stage across queries.

    A harness that runs several dedup variants over the SAME corpus
    (bench.py runs the n-gram join and MinHash+LSH back to back)
    otherwise recomputes an identical CPU-heavy shingle stage per query.
    When enabled, ``doc_shingles`` memoizes its result by plan
    semanticHash and persists it, so every variant reads the one
    materialization. OFF by default — whether corpus-sized state is
    worth pinning is a per-run capacity decision, so a 100 TB pipeline
    must opt in explicitly. Disabling unpersists everything cached."""
    global _SHINGLE_CACHE
    if enabled:
        if _SHINGLE_CACHE is None:
            _SHINGLE_CACHE = {}
    elif _SHINGLE_CACHE is not None:
        for cached in _SHINGLE_CACHE.values():
            cached.unpersist()
        _SHINGLE_CACHE = None


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """One row per document with its distinct shingle set: (id, sh array).

    Tokenization is the CPU-heavy stage of every dedup variant, so the
    input is spread across the session's cores first (no-op when the scan
    already has enough partitions — operators/skew.spread_small_input).
    With the opt-in cache (``set_shingle_cache``), identical shingle
    plans are persisted once and shared across queries."""
    from .skew import spread_small_input

    out = spread_small_input(df).selectExpr(
        id_col, f"{shingle_array_sql(text_col, n)} as sh"
    )
    if _SHINGLE_CACHE is not None:
        key = out.semanticHash()
        cached = _SHINGLE_CACHE.get(key)
        if cached is not None:
            return cached
        out = out.persist()
        _SHINGLE_CACHE[key] = out
    return out


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Exploded view of doc_shingles — distinctness comes from the in-row
    array_distinct, so this is a pure narrow projection (no shuffle).
    """
    return doc_shingles(df, id_col, text_col, n).selectExpr(
        id_col, "explode(sh) as shingle"
    )


def exact_dedup_summary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group documents by content hash: (n_docs, n_distinct, n_duplicates)."""
    groups = df.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.count("*").alias("group_size"), F.min(id_col).alias("canonical_id")
    )
    return groups.agg(
        F.sum("group_size").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        (F.sum("group_size") - F.count("*")).alias("n_duplicates"),
    )


def jaccard_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """N-gram Jaccard similarity join, array-first plan.

    Output: (a_id, b_id, n_common, jaccard) for pairs with jaccard >= threshold.

    Shuffle budget (the 100 TB accounting):
    - uncapped: ONE shuffle pair for the shingle-blocked self-join plus the
      pair groupBy. Per-document shingle-set sizes ride along the exploded
      rows (computed map-side as size(array_distinct(...))), so there are no
      join-back-the-sizes shuffles and no pre-shuffle to dedupe shingles.
    - capped (``max_doc_freq``): a document-frequency pass over the exploded
      shingles prunes hot shingles from BLOCKING only; candidates re-verify
      against full shingle sets via in-row array_intersect (exact Jaccard,
      recall-only approximation — the standard stop-shingle trade-off).

    ``shingles``: optional precomputed ``doc_shingles`` output for the same
    rows — callers that already tokenized (the streaming job checkpoints
    shingle sets for its index write) pass it to avoid paying the CPU-heavy
    shingle stage twice per batch.
    """
    base = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n)
    docs_sh = base.withColumn("n_sh", F.size("sh"))
    if max_doc_freq is not None:
        # the capped path re-reads doc arrays in the verify stage; anchor
        # them behind an id exchange so verify reuses this tokenization
        docs_sh = _by_id(docs_sh, id_col)
    # Materialize ONE exchange keyed on the join key: both self-join sides
    # are the same canonical subplan, so Spark reuses the shuffle output
    # (ReusedExchange) and the corpus is tokenized exactly once. Without
    # this the narrow projection is recomputed per join side.
    ex = docs_sh.selectExpr(id_col, "n_sh", "explode(sh) as shingle").repartition(
        F.col("shingle")
    )
    a = ex.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("a_n"), "shingle")
    b = ex.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("b_n"), "shingle")
    if max_doc_freq is None:
        return (
            a.join(b, "shingle")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(
                F.count("*").alias("n_common"),
                F.min("a_n").alias("a_n"),
                F.min("b_n").alias("b_n"),
            )
            .withColumn(
                "jaccard",
                F.col("n_common") / (F.col("a_n") + F.col("b_n") - F.col("n_common")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "n_common", "jaccard")
        )
    rare = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("shingle")
    )
    cands = (
        a.select("a_id", "shingle")
        .join(rare, "shingle")
        .join(b.select("b_id", "shingle"), "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    return verify_candidates_arrays(docs_sh, cands, id_col, threshold)


def prefix_filtered_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """N-gram Jaccard join with PPJoin-style prefix filtering — EXACT recall.

    Produces byte-identical output to ``jaccard_near_dups`` (same pairs,
    same Jaccard values) while blocking on only each document's PREFIX:
    its ``|sh| - ceil(t·|sh|) + 1`` rarest shingles under the global
    (document-frequency, shingle) order. The prefix-filter theorem (Chaudhuri
    et al. 2006 SSJoin; Xiao et al. 2008 PPJoin) guarantees no false
    negatives: for any pair with Jaccard >= t, the overlap o satisfies
    o >= t·max(|A|,|B|) (pairs failing the length condition min >= t·max
    cannot reach t at all), so the smallest common shingle in the global
    order must sit inside BOTH prefixes — if it escaped A's prefix, all o
    common shingles would fit in A's suffix of size ceil(t·|A|) - 1 < o.
    Candidates are then re-verified with exact in-row array_intersect.

    Cost accounting vs the plain blocked join: two extra corpus-sized
    passes (the document-frequency aggregate and the per-doc rank window)
    buy a candidate-join volume of sum(prefix_df²) instead of sum(df²) —
    on skewed corpora the hot shingles that drive the quadratic blow-up are
    exactly the ones prefix selection excludes, so pair volume drops ~4× at
    t = 0.5 and far more under heavier boilerplate. The plain join wins
    when the corpus is small or uniform (bench keeps it); this is the
    exact-recall scale path when the candidate join is the bottleneck and
    the ``max_doc_freq`` cap's recall loss is unacceptable.
    """
    from fractions import Fraction

    from pyspark.sql.window import Window

    # The theorem's bounds must be computed INTEGER-exactly: in floating
    # point, t·n can round just above an exact integer (0.07*100 ==
    # 7.000000000000001, ceil -> 8), shortening the prefix by one shingle
    # or dropping a pair sitting exactly on the length boundary — a false
    # negative despite the exact-recall contract. Express t as the exact
    # rational the caller wrote (str() gives the shortest decimal) and do
    # ceil/compare in bigint arithmetic.
    frac = Fraction(str(threshold))
    tn, td = frac.numerator, frac.denominator
    # the shingle stage feeds the prefix build AND both verify-join sides;
    # the id-keyed anchor alone still re-tokenized the corpus per consumer
    # (6 source scans in the plan audit) — pin it for the call's scope
    # (released by the harness via operators.cachereg.release_pinned)
    docs_sh = pin(
        _by_id(
            doc_shingles(df, id_col, text_col, n).withColumn("n_sh", F.size("sh")),
            id_col,
        )
    )
    ex = docs_sh.selectExpr(id_col, "n_sh", "explode(sh) as shingle")
    dfreq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    # (df, shingle) is a TOTAL order — ties on df break by shingle text, so
    # both engines and both join sides agree on every prefix
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    # ceil(t·n) = (tn·n + td - 1) div td — bigint `div`, no rounding
    ceil_tn = F.expr(f"(CAST({tn} AS BIGINT) * n_sh + {td - 1}) div {td}")
    # materialize the prefix relation ONCE for both self-join sides: the
    # former repartition-anchored ReusedExchange never actually fired —
    # column pruning pushes each side's projection below the exchange, the
    # canonical subplans diverge, and the plan computed the df aggregate +
    # rank window TWICE (verified in plans/r11/q_dedup_prefix_filter_before
    # .txt: two Window + two dfreq HashAggregate subtrees). The pin is
    # released by the harness via operators.cachereg.release_pinned.
    prefix = pin(
        ex.join(dfreq, "shingle")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("n_sh") - ceil_tn + 1)
        .select(id_col, "n_sh", "shingle", "df", "__rk")
        .repartition(F.col("shingle"))
    )
    a = prefix.select(
        F.col(id_col).alias("a_id"), F.col("n_sh").alias("a_n"),
        "shingle", "df", F.col("__rk").alias("a_rk"),
    )
    b = prefix.select(
        F.col(id_col).alias("b_id"), F.col("n_sh").alias("b_n"),
        "shingle", F.col("__rk").alias("b_rk"),
    )
    joined = a.join(b, "shingle").filter(
        (F.col("a_id") < F.col("b_id"))
        # length filter: Jaccard >= t forces min(|A|,|B|) >= t·max(|A|,|B|)
        # — compared as integers (b_n·td >= tn·a_n), no float rounding
        & (F.col("b_n") * F.lit(td) >= F.lit(tn).cast("bigint") * F.col("a_n"))
        & (F.col("a_n") * F.lit(td) >= F.lit(tn).cast("bigint") * F.col("b_n"))
    )
    # PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2): let s* be the pair's
    # first common shingle in the global (df, shingle) order, at positions
    # (pa*, pb*) within each document's sorted shingle list. Every other
    # common shingle sorts after s*, so the overlap o <= 1 + min(|A| - pa*,
    # |B| - pb*). Jaccard >= t forces o >= alpha = ceil(t(|A|+|B|)/(1+t)) =
    # ceil(tn(|A|+|B|)/(tn+td)) — pairs whose bound misses alpha cannot
    # qualify and never reach the array verify. Recall safety: for a truly
    # qualifying pair the prefix theorem puts s* inside BOTH prefixes, so
    # the min_by below sees it and the bound is >= o >= alpha; for junk
    # pairs s* may be missing, which only SHRINKS the bound (later matches
    # have larger positions) and prunes harder. min_by keys on (df,
    # shingle) — the same total order as the prefix ranks, unique per join
    # row — so every engine and layout picks the same witness row. This
    # cut the sf0.1 candidate volume 309,803 -> the array-verify set and
    # the bench time roughly in half.
    alpha = F.expr(
        f"(CAST({tn} AS BIGINT) * (a_n + b_n) + {tn + td - 1}) div {tn + td}"
    )
    cands = (
        joined.groupBy("a_id", "b_id", "a_n", "b_n")
        .agg(
            F.min_by(
                F.struct(F.col("a_rk").alias("pa"), F.col("b_rk").alias("pb")),
                F.struct(F.col("df"), F.col("shingle")),
            ).alias("__first")
        )
        .filter(
            F.lit(1)
            + F.least(
                F.col("a_n") - F.col("__first.pa"),
                F.col("b_n") - F.col("__first.pb"),
            )
            >= alpha
        )
        .select("a_id", "b_id")
    )
    return verify_candidates_arrays(docs_sh, cands, id_col, threshold)


def _by_id(docs_sh: DataFrame, id_col: str) -> DataFrame:
    """Anchor the (id, shingle-array) projection behind an id-keyed exchange.

    Every consumer (a-side verify join, b-side verify join, signature pass)
    then reads the SAME shuffle output instead of re-tokenizing the corpus —
    one corpus-sized shuffle buys N reuses. Catalyst collapses duplicate
    repartitions, so calling this on an already-anchored plan is a no-op.
    """
    return docs_sh.repartition(F.col(id_col))


def verify_candidates_arrays(
    docs_sh: DataFrame, cands: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate pairs via in-row array_intersect.

    Two equi-joins pull each side's (distinct) shingle array onto the pair
    row; n_common and the set sizes are then pure projections. Work is
    proportional to |candidates| × shingles-per-doc with NO explode and NO
    pair-level groupBy — this is the verify stage every blocked path (LSH
    bands, doc-frequency blocking) funnels into.
    """
    anchored = _by_id(docs_sh, id_col)
    a = anchored.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = anchored.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    return jaccard_verify_pairs(cands.join(a, "a_id").join(b, "b_id"), threshold)


def jaccard_verify_pairs(
    paired: DataFrame, threshold: float, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Exact-Jaccard projection over pre-paired rows (a_id, b_id, a_sh,
    b_sh) → (a_id, b_id, n_common, jaccard) at ``jaccard >= threshold``.
    The single definition of the verify arithmetic — both the batch verify
    stage above and the streaming jobs (streaming/dedup_stream.py,
    streaming/upsert_dedup.py) funnel through it, so the paths cannot
    drift. ``carry`` names extra input columns to pass through (version
    tags etc.) so callers never need a join-back to recover them."""
    return (
        paired.withColumn(
            "n_common", F.size(F.array_intersect("a_sh", "b_sh")).cast("bigint")
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("a_sh") + F.size("b_sh") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "n_common", "jaccard", *carry)
    )


def jaccard_pairs(
    shingles: DataFrame, id_col: str, threshold: float, max_doc_freq: int | None = None
) -> DataFrame:
    """N-gram Jaccard similarity join over PRE-EXPLODED shingles.

    Reference formulation kept for callers that already hold an exploded
    (id, shingle) relation; the production path is ``jaccard_near_dups``
    (array-first, exchange-reused). Semantics are identical — the pytest
    hot-shingle-cap test pins them against each other.

    Output: (a_id, b_id, n_common, jaccard) for pairs with jaccard >= threshold.

    ``max_doc_freq``: when set, shingles occurring in more than this many
    documents are excluded from CANDIDATE BLOCKING (a hot-key cap — a
    boilerplate-heavy corpus would otherwise make one stop-shingle block
    quadratic). The Jaccard value itself stays EXACT:
    candidates are re-verified against the full shingle sets. The only
    approximation is recall — a pair whose every common shingle is hot is
    missed, the standard stop-word trade-off.
    """
    a = shingles.select(F.col(id_col).alias("a_id"), "shingle")
    b = shingles.select(F.col(id_col).alias("b_id"), "shingle")
    if max_doc_freq is None:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("n_common"))
        )
        return _jaccard_from_intersections(shingles, inter, id_col, threshold)
    rare = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("shingle")
    )
    cands = (
        a.join(rare, "shingle")
        .join(b.join(rare, "shingle"), "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    return verify_jaccard_candidates(shingles, cands, id_col, threshold)


def _jaccard_from_intersections(
    shingles: DataFrame, inter: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(a_id, b_id, n_common) + per-doc shingle counts → exact Jaccard."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("a_n"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("b_n"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", F.col("n_common") / (F.col("a_n") + F.col("b_n") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "n_common", "jaccard")
    )


def verify_jaccard_candidates(
    shingles: DataFrame, cands: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs.

    The intersection join fans each candidate out by its a-side shingles
    and probes the b-side on (b_id, shingle) — work proportional to
    |candidates| × shingles-per-doc, never to the all-pairs blocked join.
    This is the verify stage every blocked similarity path (LSH bands,
    doc-frequency blocking) funnels into."""
    inter = (
        cands.join(shingles.select(F.col(id_col).alias("a_id"), "shingle"), "a_id")
        .join(shingles.select(F.col(id_col).alias("b_id"), "shingle"), ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_from_intersections(shingles, inter, id_col, threshold)


def minhash_signatures_mapside(docs_sh: DataFrame, id_col: str) -> DataFrame:
    """MinHash signature as a PURE PROJECTION over per-doc shingle arrays.

    mh_i = array_min(transform(hs, h -> (a_i·h + b_i) mod P)) where hs is the
    per-row vector of 32-bit shingle hashes — no explode, no groupBy, no
    shuffle at all. The corpus is read once and signatures stream out of the
    scan inside whole-stage codegen; at 100 TB the signature pass is
    embarrassingly parallel. Documents with no shingles are dropped (they
    have no signature — same semantics as the aggregate formulation, and it
    keeps empty docs from all colliding into one degenerate band bucket).
    """
    hashed = docs_sh.selectExpr(
        id_col,
        f"transform(sh, s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
        f" % {MERSENNE_P}) as hs",
    ).filter(F.size("hs") > 0)
    mins = [
        f"array_min(transform(hs, h -> ({a}L * h + {b}L) % {MERSENNE_P})) as mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return hashed.selectExpr(id_col, *mins)


def lsh_band_rows(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bkey) — one scan: the bands explode from an inline array
    of structs instead of LSH_BANDS unioned passes over the signatures."""
    structs = ", ".join(
        f"struct({band} as band, concat_ws(',', "
        + ", ".join(
            f"cast(mh{band * ROWS_PER_BAND + r} as string)"
            for r in range(ROWS_PER_BAND)
        )
        + ") as bkey)"
        for band in range(LSH_BANDS)
    )
    return signatures.selectExpr(
        id_col, f"inline(array({structs}))"
    )


def minhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """MinHash-LSH candidates verified with true Jaccard >= threshold.

    Plan shape (the 100 TB story): one corpus scan computes shingle arrays
    and signatures map-side (minhash_signatures_mapside — zero shuffles),
    bands inline-explode from the signature row, and the ONLY data-sized
    shuffle is the band-bucket self-join. Exact Jaccard is computed for
    CANDIDATE PAIRS ONLY via in-row array_intersect
    (verify_candidates_arrays) — verification cost is proportional to the
    LSH collision count, never to an all-pairs blocked join.
    """
    docs_sh = _by_id(doc_shingles(df, id_col, text_col, n), id_col)
    cands = minhash_candidate_pairs(docs_sh, id_col)
    return verify_candidates_arrays(docs_sh, cands, id_col, threshold)


def minhash_candidate_pairs(docs_sh: DataFrame, id_col: str) -> DataFrame:
    """Raw LSH candidate pairs (a_id < b_id) from band-bucket collisions —
    the pre-verify relation, exposed for recall measurement
    (q_lsh_recall_curve) as well as the verified path above."""
    bands = lsh_band_rows(minhash_signatures_mapside(docs_sh, id_col), id_col)
    a = bands.select(F.col(id_col).alias("a_id"), "band", "bkey")
    b = bands.select(F.col(id_col).alias("b_id"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document, term-frequency weighted: (id, fp).

    One aggregate, one expression: each bit's vote folds ±1 per token
    OCCURRENCE, which is exactly the ±tf-per-distinct-token sum (integer
    addition commutes), so the per-(id, tok) tf pre-aggregate — a second
    corpus-wide Exchange — is unnecessary. A document's occurrences all
    explode from one input row, so the map-side partial aggregation
    collapses them locally and the single shuffle carries one 60-cell
    vote row per document. The 60 vote sums and the fp fold are emitted
    as ONE SQL string (a single expression parse) instead of ~480 py4j
    Column-node round-trips."""
    hashed = tokens(df, id_col, text_col).select(
        F.col(id_col), h60(F.col("tok")).alias("h")
    )
    fp_sql = " + ".join(
        f"(case when sum(case when (shiftright(h, {b}) & 1) = 1"
        f" then 1 else -1 end) > 0"
        f" then cast({1 << b} as bigint) else cast(0 as bigint) end)"
        for b in range(SIMHASH_BITS)
    )
    return hashed.groupBy(id_col).agg(F.expr(fp_sql).alias("fp"))


def simhash_pairs(fps: DataFrame, id_col: str, max_hamming: int) -> DataFrame:
    """Pairs within Hamming distance via band-blocked join + popcount filter.

    Requires max_hamming < SIMHASH_BANDS for guaranteed recall (pigeonhole:
    k differing bits cannot touch all bands if k < #bands).
    """
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError("max_hamming must be < SIMHASH_BANDS for exact recall")
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1
    # The fingerprint relation is PINNED: column pruning rewrites each
    # self-join side's projection independently, so the canonical
    # subplans diverge and ReusedExchange never fires (the PPJoin
    # pathology) — without the pin the corpus-wide fingerprint aggregate
    # runs once PER SIDE. The pin sits on fps (one narrow row per doc),
    # not the 4×-exploded band relation: the explode + bkey arithmetic
    # re-derives map-side from the cache for each side, which is cheaper
    # than writing the wider band relation into the cache (measured).
    # Band rows via ONE map-side explode — a per-band union would make
    # the fingerprint aggregation an N-band-consumer subtree and
    # recompute it per band.
    exploded = pin(fps).select(
        F.col(id_col),
        F.col("fp"),
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).selectExpr(
        id_col,
        "fp",
        "band",
        f"shiftright(fp, band * {width}) & {mask} as bkey",
    )
    a = exploded.select(F.col(id_col).alias("a_id"), F.col("fp").alias("a_fp"), "band", "bkey")
    b = exploded.select(F.col(id_col).alias("b_id"), F.col("fp").alias("b_fp"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


def benchmark_contamination(
    corpus: DataFrame, probe: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Flag corpus documents sharing word n-grams with a benchmark set.

    Output: (id, n_shared_shingles, n_benchmark_docs) for contaminated docs —
    the decontamination primitive of a training pipeline (drop or audit any
    training document that overlaps an eval benchmark).

    Scale shape: the corpus side streams (shingles explode map-side from
    doc_shingles, no shuffle before the join); the probe side — benchmarks
    are thousands of documents, not terabytes — is BROADCAST, so the join is
    map-side too and the only shuffle is the per-document groupBy of hits.
    """
    corpus_sh = corpus.transform(
        lambda d: doc_shingles(d, id_col, text_col, n)
    ).selectExpr(id_col, "explode(sh) as shingle")
    probe_sh = (
        doc_shingles(probe, id_col, text_col, n)
        .selectExpr(f"{id_col} as __probe_id", "explode(sh) as shingle")
    )
    return (
        corpus_sh.join(F.broadcast(probe_sh), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("__probe_id").alias("n_benchmark_docs"),
        )
    )


def dedup_clusters(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Duplicate-cluster assignment: (id, canonical_id, cluster_size).

    The keep-one-per-cluster primitive of a training-data pipeline:
    near-dup pairs (n-gram Jaccard >= threshold) form a graph, connected
    components give the clusters, the smallest member id is the cluster's
    canonical document, and singletons are their own canonical. Downstream
    "deduplicate" is then a filter (id == canonical_id); "weight by
    multiplicity" is cluster_size.
    """
    from .closure import connected_components

    pairs = jaccard_near_dups(df, id_col, text_col, n, threshold)
    comps = connected_components(pairs, src="a_id", dst="b_id")
    labeled = (
        df.select(F.col(id_col).alias("node"))
        .join(comps, "node", "left")
        .withColumn("canonical_id", F.coalesce("component", "node"))
    )
    sizes = labeled.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return (
        labeled.join(sizes, "canonical_id")
        .select(F.col("node").alias(id_col), "canonical_id", "cluster_size")
    )


def token_window_rows(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    """One row per w-token window POSITION: (id, pos, win).

    Unlike :func:`word_shingles` this keeps every occurrence (no in-row
    distinct) because substring-dedup statistics are measured over
    positions, not over the distinct-window set. Pure narrow projection —
    the explode is map-side.
    """
    toks = f"filter(split({text_col}, ' '), t -> t != '')"
    return df.selectExpr(
        id_col,
        f"posexplode(flatten(transform(array({toks}), toks ->"
        f" transform("
        f"  if(size(toks) >= {w}, sequence(0, size(toks) - {w}), cast(array() as array<int>)),"
        f"  i -> concat_ws(' ', slice(toks, i + 1, {w})))))) as (pos, win)",
    )


def duplicated_window_fraction(
    df: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """Per-document duplicated-substring signal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", approximated
    at fixed window length): the fraction of a document's w-token windows
    whose exact text also occurs in at least one OTHER document.

    Output: (id, n_windows, n_dup_windows, dup_fraction) — the standard
    quality gate "drop/trim documents that are mostly copies of the rest of
    the corpus". Suffix-array exact-substring matching doesn't distribute;
    fixed-length window fingerprints are the shuffle-friendly approximation
    (a duplicated substring of length >= w always contains a duplicated
    window, so recall at granularity w is exact).

    Scale shape: windows explode map-side; the distinct-(win, id) reduction
    and the per-window doc count are one shuffle chain keyed by window text
    (hot boilerplate windows collapse to ONE row in the count table before
    the join back, so frequency skew never replicates rows); the final
    per-document aggregate is a second keyed shuffle. No cross product
    anywhere, corpus never collected.
    """
    wins = token_window_rows(df, id_col, text_col, w)
    # windows occurring in >= 2 distinct documents; distinct first so the
    # count is a plain count(*) with map-side combine
    shared = (
        wins.select("win", id_col)
        .dropDuplicates()
        .groupBy("win")
        .agg(F.count("*").alias("__n_docs"))
        .filter(F.col("__n_docs") >= 2)
        .select("win")
    )
    flagged = wins.join(shared, "win", "left_semi")
    totals = wins.groupBy(id_col).agg(F.count("*").alias("n_windows"))
    dups = flagged.groupBy(id_col).agg(F.count("*").alias("n_dup_windows"))
    return (
        totals.join(dups, id_col, "left")
        .withColumn("n_dup_windows", F.coalesce("n_dup_windows", F.lit(0)))
        .withColumn(
            "dup_fraction",
            F.col("n_dup_windows").cast("double") / F.col("n_windows"),
        )
    )


def scrub_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Remove boilerplate spans — the CCNet / RefinedWeb paragraph-dedup
    step, over fixed ``span_tokens``-token segmentation (this corpus has no
    newlines; with natural text, split on the paragraph separator instead).

    Each document is cut into consecutive non-overlapping spans; a span
    whose exact text occurs in >= ``min_docs`` DISTINCT documents is
    boilerplate and is dropped; the survivors reassemble in order.

    Output: (id, clean_text, n_spans, n_removed).

    Scale shape: spans explode map-side; the boilerplate table is one
    hash-agg keyed by span text (one row per distinct span — hot spans
    collapse before the join back); reassembly is a per-document groupBy
    whose state is the document's own spans, never the corpus.
    """
    toks = f"filter(split({text_col}, ' '), t -> t != '')"
    k = span_tokens
    spans = df.selectExpr(
        id_col,
        f"posexplode(flatten(transform(array({toks}), toks ->"
        f" transform("
        f"  sequence(0, greatest(cast(ceil(size(toks) / {k}.0) as int) - 1, 0)),"
        f"  i -> concat_ws(' ', slice(toks, i * {k} + 1, {k})))))) as (idx, span)",
    ).filter(F.col("span") != "")
    boiler = (
        spans.select("span", id_col)
        .dropDuplicates()
        .groupBy("span")
        .agg(F.count("*").alias("__n_docs"))
        .filter(F.col("__n_docs") >= min_docs)
        .select("span", F.lit(True).alias("__boiler"))
    )
    marked = spans.join(boiler, "span", "left").select(
        id_col,
        "idx",
        "span",
        F.coalesce("__boiler", F.lit(False)).alias("__boiler"),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("idx", "span", "__boiler"))
            ).alias("__all"),
        )
        .select(
            id_col,
            F.concat_ws(
                " ",
                F.expr("transform(filter(__all, s -> NOT s.__boiler), s -> s.span)"),
            ).alias("clean_text"),
            F.size("__all").alias("n_spans"),
            F.expr("size(filter(__all, s -> s.__boiler))").alias("n_removed"),
        )
    )


def containment_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directional shingle-CONTAINMENT join: (src_id, dst_id, n_common,
    containment) where containment = |sh(src) ∩ sh(dst)| / |sh(src)|.

    Jaccard misses the quote/excerpt case: a paragraph lifted into a much
    longer document scores near zero symmetric similarity while being a
    100% copy of the shorter side. Containment normalizes by the SOURCE
    set only, so "src is mostly contained in dst" fires regardless of the
    length ratio — the duplication mode behind quote detection, page
    templating, and excerpt-level training-set contamination.

    Plan shape is the sanctioned blocked similarity join
    (jaccard_near_dups): one shingle-keyed exchange reused by both
    self-join sides, pair counts with min-carried set sizes, and BOTH
    orientations derived from the single a_id < b_id intersection table —
    the asymmetric measure costs no second join.

    ``max_doc_freq``: opt-in hot-shingle cap (same trade-off as
    jaccard_near_dups). Quote/template detection is EXACTLY the workload
    where one corpus-wide boilerplate shingle makes the blocked self-join
    quadratic in that shingle's document frequency, so at scale cap the
    blocking frequency; candidate pairs re-verify containment against
    the FULL shingle sets (in-row array_intersect), so the value stays
    exact and only recall is approximate — a pair whose every common
    shingle is hot is missed (the standard stop-shingle trade-off).
    """
    docs_sh = doc_shingles(df, id_col, text_col, n).withColumn("n_sh", F.size("sh"))
    if max_doc_freq is not None:
        docs_sh = _by_id(docs_sh, id_col)
    ex = docs_sh.selectExpr(id_col, "n_sh", "explode(sh) as shingle").repartition(
        F.col("shingle")
    )
    a = ex.select(F.col(id_col).alias("a_id"), F.col("n_sh").alias("a_n"), "shingle")
    b = ex.select(F.col(id_col).alias("b_id"), F.col("n_sh").alias("b_n"), "shingle")
    if max_doc_freq is not None:
        rare = (
            ex.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        cands = (
            a.select("a_id", "shingle")
            .join(rare, "shingle")
            .join(b.select("b_id", "shingle"), "shingle")
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
        )
        anchored = _by_id(docs_sh, id_col)
        paired = cands.join(
            anchored.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh")),
            "a_id",
        ).join(
            anchored.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh")),
            "b_id",
        )
        inter = paired.select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("a_sh", "b_sh")).cast("bigint").alias("n_common"),
            F.size("a_sh").cast("bigint").alias("a_n"),
            F.size("b_sh").cast("bigint").alias("b_n"),
        ).filter(F.col("n_common") > 0)
        return _containment_orientations(inter, threshold)
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count("*").alias("n_common"),
            F.min("a_n").alias("a_n"),
            F.min("b_n").alias("b_n"),
        )
    )
    return _containment_orientations(inter, threshold)


def _containment_orientations(inter: DataFrame, threshold: float) -> DataFrame:
    """(a_id, b_id, n_common, a_n, b_n) → both containment orientations.

    Both orientations via a map-side explode of ONE intersection row —
    a union of two selects would make `inter` a two-consumer subtree and
    re-execute the whole blocked join per orientation."""
    return (
        inter.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_id").alias("src_id"),
                        F.col("b_id").alias("dst_id"),
                        F.col("n_common").alias("n_common"),
                        (F.col("n_common") / F.col("a_n")).alias("containment"),
                    ),
                    F.struct(
                        F.col("b_id").alias("src_id"),
                        F.col("a_id").alias("dst_id"),
                        F.col("n_common").alias("n_common"),
                        (F.col("n_common") / F.col("b_n")).alias("containment"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .filter(F.col("containment") >= threshold)
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-aware cluster collapse: the HIGHEST-``quality_col`` member of
    each near-dup cluster survives (tie-break: smallest id).

    ``dedup_clusters`` elects the smallest id as canonical — fine for
    counting, wrong for curation, where the standard policy is "keep the
    best copy" (longest / highest-quality duplicate; Lee et al. 2022 keep
    one representative, RefinedWeb keeps by quality). Output: one row per
    cluster — (id, canonical_id, cluster_size, quality) of the survivor.

    Plan: cluster labels from the components pass, one broadcast-sized
    join back to (id, quality), then a single groupBy(canonical_id) whose
    argmax is a struct MAX((quality, -id)) — no per-cluster window sort,
    so a 100 TB corpus with billions of singleton clusters never ranks
    inside a skewed window partition.

    ``quality_col`` keeps its native numeric type throughout — fractional
    quality scores (RefinedWeb-style) rank exactly, and the survivor's
    reported quality is the unmodified input value. (Spark SQL ordering
    treats NaN as larger than any number, so a NaN-scored member would
    win its cluster — filter or clamp NaNs upstream if that matters.)
    """
    clusters = dedup_clusters(df, id_col, text_col, n, threshold)
    quality = df.select(F.col(id_col), F.col(quality_col).alias("__q"))
    return (
        clusters.join(quality, id_col)
        .groupBy("canonical_id", "cluster_size")
        .agg(
            F.max(
                F.struct(F.col("__q").alias("q"), (-F.col(id_col)).alias("negid"))
            ).alias("m")
        )
        .select(
            (-F.col("m.negid")).alias(id_col),
            "canonical_id",
            "cluster_size",
            F.col("m.q").alias(quality_col),
        )
    )


def cross_contamination_lsh(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination at LSH scale: training docs whose n-gram
    Jaccard against ANY benchmark doc reaches ``threshold``, found via
    MinHash band collisions across the two tables (never an all-pairs or
    all-shingles cross join).

    ``benchmark_contamination`` is the exact-overlap form (any shared
    n-gram ⇒ broadcast probe); this is the scale form for when the
    benchmark side is itself large (a full eval-suite union): both sides
    compute fixed-size signatures map-side, candidates meet ONLY inside
    (band, bkey) buckets, and exact Jaccard re-verifies candidates from
    the in-row shingle arrays. Same recall contract as
    ``minhash_near_dups``, directed train→bench.

    Output: (train_id, bench_id, n_common, jaccard), one row per
    contaminated (train, bench) pair at jaccard >= threshold.
    """
    t_sh = _by_id(doc_shingles(train, id_col, text_col, n), id_col)
    b_sh = _by_id(doc_shingles(bench, id_col, text_col, n), id_col)
    t_bands = lsh_band_rows(minhash_signatures_mapside(t_sh, id_col), id_col).select(
        F.col(id_col).alias("train_id"), "band", "bkey"
    )
    b_bands = lsh_band_rows(minhash_signatures_mapside(b_sh, id_col), id_col).select(
        F.col(id_col).alias("bench_id"), "band", "bkey"
    )
    cands = (
        t_bands.join(b_bands, ["band", "bkey"])
        .select("train_id", "bench_id")
        .dropDuplicates(["train_id", "bench_id"])
    )
    paired = cands.join(
        t_sh.select(F.col(id_col).alias("train_id"), F.col("sh").alias("t_sh")),
        "train_id",
    ).join(
        b_sh.select(F.col(id_col).alias("bench_id"), F.col("sh").alias("b_sh")),
        "bench_id",
    )
    return (
        paired.select(
            "train_id",
            "bench_id",
            F.size(F.array_intersect("t_sh", "b_sh")).cast("bigint").alias("n_common"),
            F.size("t_sh").cast("bigint").alias("t_n"),
            F.size("b_sh").cast("bigint").alias("b_n"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("t_n") + F.col("b_n") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("train_id", "bench_id", "n_common", "jaccard")
    )


def weighted_jaccard_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    weight_scale: int = 1000,
    block_df_cap: int = 8,
) -> DataFrame:
    """IDF-weighted Jaccard near-dup join — boilerplate-robust dedup.

    Plain Jaccard treats every shingle equally, so corpus-wide boilerplate
    (injected footers, licence blocks, navigation chrome) inflates the
    similarity of UNRELATED documents until they cross the dedup
    threshold. The standard fix weights each shingle by rarity; here
    w(s) = weight_scale div df(s) — an exact integer, so the weighted
    Jaccard  J_w = sum_w(A∩B) / (sum_w(A) + sum_w(B) - sum_w(A∩B))
    is a ratio of exact integers and reproduces bit-for-bit on any engine.
    A shingle shared by the whole corpus weighs ~0; discriminating
    shingles keep their full weight.

    Blocking runs ONLY on rare shingles (df in [2, block_df_cap]) — the
    hot shingles that would explode a blocked self-join are exactly the
    ones weighting discounts, so the block bound and the semantics align:
    a pair is a candidate iff it shares at least one rare shingle
    (documented recall contract — boilerplate-only pairs are not
    candidates, and their J_w is negligible by construction). The
    intersection weight is then computed EXACTLY over all shared shingles
    (including hot ones) by a candidate-bounded pair x shingle join, so
    reported J_w values are never approximated.

    Output: (a_id, b_id, iw, wjac) at wjac >= threshold.
    """
    sh = pin(word_shingles(df, id_col, text_col, n))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sh_w = pin(
        sh.join(dfreq, "shingle").select(
            id_col, "shingle", F.expr(f"{weight_scale} div df").alias("w"),
            "df",
        )
    )
    tot = sh_w.groupBy(id_col).agg(F.sum("w").alias("tw"))
    rare = sh_w.filter(
        (F.col("df") >= 2) & (F.col("df") <= block_df_cap)
    )
    cands = (
        rare.select("shingle", F.col(id_col).alias("a_id"))
        .join(rare.select("shingle", F.col(id_col).alias("b_id")), "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    a_sh = sh_w.select(F.col(id_col).alias("a_id"), "shingle", "w")
    b_sh = sh_w.select(F.col(id_col).alias("b_id"), "shingle")
    iw = (
        cands.join(a_sh, "a_id")
        .join(b_sh, ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.sum("w").alias("iw"))
    )
    ta = tot.select(F.col(id_col).alias("a_id"), F.col("tw").alias("ta"))
    tb = tot.select(F.col(id_col).alias("b_id"), F.col("tw").alias("tb"))
    return (
        iw.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn(
            "wjac", F.col("iw") / (F.col("ta") + F.col("tb") - F.col("iw"))
        )
        .filter(F.col("wjac") >= threshold)
        .select("a_id", "b_id", "iw", "wjac")
    )
