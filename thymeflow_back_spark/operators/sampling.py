"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus pipeline needs REPRODUCIBLE sampling: re-running the job (or
running it per-partition on different executors) must select exactly the same
rows, and the split a document lands in must never depend on task scheduling.
So none of these use rand() — the uniform variate is derived from
md5(salt || ':' || key), which is portable across engines (the DuckDB oracles
in queries/pipeline.py reproduce every selection bit-exactly) and across
cluster sizes.

All operators are pure narrow projections/filters: zero shuffles, fully
inside whole-stage codegen, trivially scale-free. This generalizes the
reference's deterministic-id discipline (deterministic UUID5 minting,
Converter.scala) to row selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TWO_32 = float(1 << 32)


def hash_u32(key: Column, salt: str) -> Column:
    """The raw 32-bit hash (bigint in [0, 2^32)) behind
    :func:`hash_uniform` — for INTEGER-domain threshold comparisons:
    ``u < q/SCALE  ⟺  h·SCALE < q·2^32`` with every operand a BIGINT, so
    a quantized keep-rate applies with no float comparison at all."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(salt), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")


def hash_uniform(key: Column, salt: str) -> Column:
    """Deterministic uniform [0, 1) double from md5(salt ':' key).

    First 8 hex chars of the md5 → 32-bit integer → /2^32. Every value is an
    exact dyadic rational, so engine-independent and bit-stable.
    """
    return hash_u32(key, salt) / F.lit(TWO_32)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum Bernoulli rates (e.g. downsample dominant languages).

    ``rates`` maps stratum value → keep probability; strata not listed use
    ``default_rate``. The rate lookup is a literal CASE expression, so the
    whole operator stays one codegen'd filter over the scan.
    """
    rate = F.lit(default_rate)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == F.lit(value), F.lit(r)).otherwise(rate)
    return df.filter(hash_uniform(F.col(key_col), salt) < rate)


def train_test_split(
    df: DataFrame, key_col: str, test_frac: float, salt: str = "split"
) -> DataFrame:
    """Add a 'split' column ('test' iff hash_uniform(key) < test_frac).

    Membership is a pure function of the key: adding data, repartitioning, or
    re-running never moves a document across the split boundary — the
    property that keeps eval sets uncontaminated as the corpus grows.
    """
    return df.withColumn(
        "split",
        F.when(
            hash_uniform(F.col(key_col), salt) < F.lit(test_frac), F.lit("test")
        ).otherwise(F.lit("train")),
    )


def sample_exact_n(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    n_per_stratum: int,
    salt: str = "sample",
) -> DataFrame:
    """EXACTLY n rows per stratum (fewer iff the stratum is smaller):
    the n smallest hash values win.

    Rate sampling gives binomial sizes; fixed-budget mixes ("200k docs per
    source") need exact quotas. Selection is still a pure function of the
    key set — adding rows can displace a winner but never flips order
    between two existing keys. One per-stratum window sort; at 100 TB the
    window parallelizes across strata (and a two-phase per-partition top-n
    pre-filter would bound memory for a single giant stratum).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(
        hash_uniform(F.col(key_col), salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def deterministic_shuffle(df: DataFrame, key_col: str, salt: str = "shuffle") -> DataFrame:
    """Reproducible global shuffle: order by the keyed hash uniform.

    Training-data layout wants the corpus in a random-but-reproducible
    order (so a re-run reads identical batches). Ordering by
    hash_uniform(key) is a permutation that any engine reproduces; writing
    with this ordering (range-partitioned sort at scale) materializes it.
    """
    return df.orderBy(hash_uniform(F.col(key_col), salt).asc(), F.col(key_col).asc())


def weighted_sample_n(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: ``n`` rows, inclusion odds
    proportional to ``weight_col`` (Efraimidis-Spirakis A-ES).

    Each row draws the deterministic uniform u = hash_uniform(key) and
    scores es_key = u^(1/w); the n LARGEST es_keys are the sample — the
    classic one-pass distributed formulation: no sequential reservoir, no
    rand(), and the selection is a pure function of (key set, weights,
    salt), so re-runs and different cluster layouts pick identical rows.
    Rows with weight <= 0 are excluded (u^(1/w) is undefined there; A-ES
    gives them zero mass anyway). The top-n runs as TakeOrderedAndProject
    (per-partition heads), never a global sort.

    The quality-weighted corpus subsample of a training pipeline: weight by
    a quality score and the keep-probability follows quality, still fully
    reproducible.
    """
    u = hash_uniform(F.col(key_col), salt)
    es_key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es_key", es_key)
        .orderBy(F.desc("__es_key"), F.col(key_col))
        .limit(n)
        .drop("__es_key")
    )


def weighted_sample_n_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weight_col: str,
    n_per_group: int,
    salt: str = "wsample",
) -> DataFrame:
    """A-ES weighted sampling without replacement, ``n`` rows PER GROUP.

    The per-stratum form of :func:`weighted_sample_n` — "200 quality-
    weighted documents per language". Same es_key = u^(1/w) construction
    (deterministic, engine-reproducible); the per-group top-n is one
    window partitioned by the group (rank inside partitions, parallel
    across groups — a skewed giant stratum would call for the grouped-rank
    prefix-sum form, operators/robust.py). Rows with weight <= 0 excluded.
    """
    from pyspark.sql.window import Window

    u = hash_uniform(F.col(key_col), salt)
    es_key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    w = Window.partitionBy(group_col).orderBy(F.desc("__es_key"), F.col(key_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__es_key", es_key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__es_key", "__rn")
    )
