"""Deterministic cardinality sketches.

approx_count_distinct (HLL++) is the built-in answer at 100 TB, but its
estimates are engine-specific — useless when two engines must agree. The KMV
(k minimum values) sketch is the deterministic alternative: hash every value
to a 32-bit integer (md5-derived, portable), keep the k smallest DISTINCT
hashes, and estimate |D| ≈ (k-1) · 2^32 / kth_min (Bar-Yossef et al. 2002,
"Counting distinct elements in a data stream"). The sketch is a pure
function of the value SET — mergeable across partitions/days by unioning
and re-taking the k smallest — so estimates are bit-reproducible anywhere,
including the DuckDB oracle.

Plan shape: hash projection → map-side-combined distinct → global min-k via
sort-limit (Spark's TakeOrderedAndProject: per-partition top-k, merge of k
rows per partition on the driver). The only full shuffle is the distinct;
at extreme scale swap it for a per-partition min-k pre-aggregation since
values above a partition's kth minimum can never reach the global sketch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import h32 as _h32

TWO_32 = float(1 << 32)


def h32(col: Column) -> Column:
    """Portable 32-bit hash (dedup.h32 over the stringified value)."""
    return _h32(col.cast("string"))


def kmv_minima(df: DataFrame, col: str | Column, k: int) -> DataFrame:
    """The k smallest distinct 32-bit value hashes: rows (rank, h).

    NULL values are not values: md5(NULL) is NULL, and Spark's ASC sort
    puts NULLS FIRST while DuckDB defaults to NULLS LAST — an unfiltered
    NULL would occupy a minima slot on one engine only, skewing the
    estimate AND breaking the cross-engine determinism contract."""
    c = F.col(col) if isinstance(col, str) else col
    hashed = (
        df.select(h32(c).alias("h")).filter(F.col("h").isNotNull()).distinct()
    )
    from pyspark.sql.window import Window

    return (
        hashed.orderBy("h")
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy("h")))
        .select("rank", "h")
    )


def kmv_estimate(df: DataFrame, col: str | Column, k: int) -> DataFrame:
    """One row: (k_used, kth_min, est_distinct).

    If fewer than k distinct values exist the sketch is exhaustive and the
    estimate IS the exact count (k_used < k).
    """
    minima = kmv_minima(df, col, k)
    return minima.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_min"),
    ).select(
        "k_used",
        "kth_min",
        F.when(F.col("k_used") < k, F.col("k_used").cast("double"))
        .otherwise((F.col("k_used") - 1) * F.lit(TWO_32) / F.col("kth_min"))
        .alias("est_distinct"),
    )


# --- count-min sketch ---------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 256


def cm_sketch(
    df: DataFrame, col: str | Column, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """Count-min sketch of a value stream: (row, cell, n) counters.

    Each occurrence increments ``depth`` cells, one per hash row
    (h32("cm<j>:" || value) % width). The sketch is d·w counters —
    constant-size however large the stream — and MERGEABLE by cell-wise
    sum, so per-partition/per-day sketches combine losslessly: the
    distributed counting story approx_count_distinct gives cardinality,
    count-min gives per-item frequency (within +εN overestimate, never
    under). Hashing is the md5-derived family (dedup.h32), so any engine
    rebuilds the identical sketch.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (h32(F.concat(F.lit(f"cm{j}:"), c)) % width).alias("cell"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    probe_col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-query the sketch: (probe_col, cm_est) = min over hash rows of
    the addressed cells. ``probes`` is small by construction (the items you
    ask about); the sketch is d·w rows — both sides broadcastable.

    The sketch join is LEFT with empty cells counting 0 (like
    bloom.bloom_probe): a never-inserted probe whose cells are all empty
    must report 0, and one with a single colliding cell must report
    min(collision, 0, …) = 0 — an inner join would drop or overestimate
    such probes, breaking the 'min over d rows' CM semantics."""
    c = F.col(probe_col).cast("string")
    addressed = probes.select(
        F.col(probe_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (h32(F.concat(F.lit(f"cm{j}:"), c)) % width).alias("cell"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rc"),
    ).select(probe_col, F.col("rc.row").alias("row"), F.col("rc.cell").alias("cell"))
    return (
        addressed.join(F.broadcast(sketch), ["row", "cell"], "left")
        .groupBy(probe_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cm_est"))
    )


# --- HyperLogLog --------------------------------------------------------------

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
# alpha_m = 0.7213 / (1 + 1.079/m) (Flajolet et al. 2007); precomputed so the
# EXACT SAME double literal appears in the Spark plan and the SQL oracle
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_registers(df: DataFrame, col: str | Column) -> DataFrame:
    """HyperLogLog register file of a value stream: ALL m rows (register, rho).

    Flajolet-style with the portable 32-bit hash: register = top p bits,
    rho = leading-zero count of the remaining 24 bits + 1 (0 for a register
    no value hashed into). The register file is the sketch — m integers,
    MERGEABLE by cell-wise max, a pure function of the value set — so two
    engines (or two days of data) always build the identical sketch.
    rho is computed with integer/string ops only (25 - digit-length of the
    suffix in base 2), never floor(log2(x)): float log at a power-of-two
    boundary is an off-by-one waiting to happen.

    Plan shape: hash projection -> map-side-combined groupBy(register)
    max(rho) -> left join against a generated 256-row register spine.
    The only shuffle is 256 groups wide.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = h32(c)
    idx = (h / F.lit(1 << 24)).cast("bigint").alias("register")
    w = (h % F.lit(1 << 24)).alias("w")
    rho = (
        F.when(F.col("w") == 0, F.lit(25))
        .otherwise(F.lit(25) - F.length(F.conv(F.col("w").cast("string"), 10, 2)))
        .alias("rho")
    )
    maxed = df.select(idx, w).select("register", rho).groupBy("register").agg(
        F.max("rho").alias("rho")
    )
    spine = df.sparkSession.range(HLL_M).select(F.col("id").alias("register"))
    return spine.join(maxed, "register", "left").select(
        "register", F.coalesce("rho", F.lit(0)).alias("rho")
    )


def hll_estimate_from_registers(registers: DataFrame) -> DataFrame:
    """One row (m, zeros, z, raw_est, est_distinct) from a register file.

    z = sum(2^-rho) is BIT-EXACT regardless of aggregation order: every
    term is a power of two >= 2^-25 and every partial sum stays below
    2^9, a 34-bit exponent range that a double holds exactly — so the
    raw estimate alpha*m^2/z is reproducible on any engine with no
    ordered-fold contortions. The small-range branch (raw <= 2.5m with
    empty registers) falls back to linear counting m*ln(m/zeros); ln is
    the one operation whose last ulp is engine-specific, so hash-exact
    comparisons should target cardinalities above 2.5m (the raw path).
    """
    return registers.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("rho") == 0).cast("int")).alias("zeros"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z"),
    ).select(
        "m",
        "zeros",
        "z",
        (F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("z")).alias("raw_est"),
        F.when(
            (F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("z") <= 2.5 * HLL_M)
            & (F.col("zeros") > 0),
            F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("zeros")),
        )
        .otherwise(F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("z"))
        .alias("est_distinct"),
    )


def hll_estimate(df: DataFrame, col: str | Column) -> DataFrame:
    """HyperLogLog distinct-count estimate of ``col`` (single row)."""
    return hll_estimate_from_registers(hll_registers(df, col))


# --- histogram quantile sketch ------------------------------------------------

HIST_BUCKETS = 256


def _bucketize(
    df: DataFrame, col: str | Column, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """(bounds, bucketed): the one-row (lo, w, nn) bounds relation and the
    per-value bucket assignment. The SINGLE definition of the bucket-edge
    arithmetic (w == 0 degenerate range -> bucket 0; floor((x-lo)/w) capped
    at n_buckets-1 so x == hi lands in the last bucket), which
    histogram_quantiles builds on."""
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    # NULLs out: they would inflate nn while landing in a NULL bucket,
    # so quantile targets could exceed the real cumulative count (missing
    # rows) or the first-hit row could be the NULL bucket (NULL estimate)
    # — same discipline as kmv_minima's null-hash filter
    vals = df.select(c.alias("x")).filter(F.col("x").isNotNull())
    bounds = vals.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"), F.count(F.lit(1)).alias("nn")
    ).select(
        "lo", ((F.col("hi") - F.col("lo")) / F.lit(n_buckets)).alias("w"), "nn"
    )
    bucketed = vals.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("w") == 0.0, F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("x") - F.col("lo")) / F.col("w")),
                F.lit(n_buckets - 1),
            )
        )
        .cast("int")
        .alias("bucket")
    )
    return bounds, bucketed


def histogram_quantiles(
    df: DataFrame,
    col: str | Column,
    quantiles: tuple[float, ...],
    n_buckets: int = HIST_BUCKETS,
) -> DataFrame:
    """Quantile estimates from the equi-width histogram: rows
    (quantile, target, bucket, est).

    ``target`` is the rank ceil(q * n); ``bucket`` the first histogram cell
    whose cumulative count reaches it; ``est`` the linear interpolation
    inside that cell — lo + w * (bucket + (target - cum_before) / n_in_bucket).
    Every arithmetic step is fixed-order IEEE double, so the estimate is
    bit-reproducible across engines (the oracle replays it in SQL).

    Everything after the bucket counts is sketch-sized (<= n_buckets rows):
    the cumulative window, the theta-join against the quantile list, and the
    first-hit selection all run on the counters, never on the data.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    bounds, bucketed = _bucketize(df, col, n_buckets)
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = counts.select("bucket", "n", F.sum("n").over(wcum).alias("c"))
    qdf = spark.createDataFrame([(float(q),) for q in quantiles], "quantile double")
    tgt = qdf.crossJoin(F.broadcast(bounds)).select(
        "quantile",
        F.ceil(F.col("quantile") * F.col("nn")).cast("bigint").alias("target"),
        "lo",
        "w",
    )
    wfirst = Window.partitionBy("quantile").orderBy("bucket")
    hits = (
        tgt.join(cum, F.col("c") >= F.col("target"))
        .withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") == 1)
    )
    est = F.when(F.col("w") == 0.0, F.col("lo")).otherwise(
        F.col("lo")
        + F.col("w")
        * (
            F.col("bucket").cast("double")
            + (F.col("target") - (F.col("c") - F.col("n"))).cast("double")
            / F.col("n").cast("double")
        )
    )
    return hits.select("quantile", "target", "bucket", est.alias("est"))


def grouped_kmv_estimate(
    df: DataFrame, group_col: str, col: str | Column, k: int
) -> DataFrame:
    """Per-group KMV distinct-count: (group, k_used, kth_min, est_distinct).

    The grouped form of :func:`kmv_estimate` — per-group cardinality
    ("distinct users per event type", "distinct shingles per language")
    with the same determinism contract: estimates are a pure function of
    each group's value set, bit-reproducible on any engine.

    Scale shape: per-group k-minima need per-group ranks, and a
    ``Window.partitionBy(group).orderBy(h)`` moves each group to ONE task
    — a 20 TB group on one core at low group cardinality. Ranks come from
    the distributed grouped rank instead (operators/robust.grouped_rank:
    one range shuffle + sketch-sized offset passes, every core busy
    regardless of group count). NULL group keys are a group of their own
    (grouped_rank's null-safe contract, matching SQL PARTITION BY);
    NULL values are excluded as in the global sketch. Groups with no
    non-null values produce no row.
    """
    from .robust import grouped_rank

    c = F.col(col) if isinstance(col, str) else col
    hashed = (
        df.select(F.col(group_col), h32(c).alias("h"))
        .filter(F.col("h").isNotNull())
        .dropDuplicates([group_col, "h"])
    )
    r = grouped_rank(hashed, group_col, ["h"], rank_col="__rn", n_col="__nd")
    kth = r.filter(F.col("__rn") == F.least(F.lit(k), F.col("__nd")))
    return kth.select(
        group_col,
        F.least(F.lit(k), F.col("__nd")).alias("k_used"),
        F.col("h").alias("kth_min"),
        F.when(F.col("__nd") < k, F.col("__nd").cast("double"))
        .otherwise((F.lit(k) - 1) * F.lit(TWO_32) / F.col("h"))
        .alias("est_distinct"),
    )
