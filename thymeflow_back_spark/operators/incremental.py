"""Incremental (additive) aggregate maintenance under diffs.

The reference's whole pipeline is diff-driven — enrichers see
``StatementSetDiff`` (added, removed) and must keep derived state
consistent without rescanning the store (SURVEY §3.2; reference
Pipeline.scala applies document diffs incrementally). The same pattern is
the materialized-view story at 100 TB: a groupBy aggregate over a
petabyte fact table is updated from a day's diff by aggregating THE DIFF
ONLY and merging — work proportional to the change, not the table.

This works exactly when the aggregate is additive (count, sum — and
avg/rate as derived sum/count): retractions are sums with sign -1, so
``state' = state + agg(added) - agg(removed)``, one shuffle over the
diff, one over the (group-sized) state union. Non-additive aggregates
(min/max under retraction, distinct counts) are NOT expressible this way
— on retraction they need a rescan of the touched groups (as
enrichers/ifp.py rederives the agents a round touches) — so the API
takes explicit sum expressions and counts, nothing else, the same honesty rule as
operators/skew.py salted_agg.

Measures should be exact types (decimal/long): the merge adds and
subtracts partial sums, and float partials would make the maintained
state order-dependent. Groups whose count reaches zero are dropped —
a group is "in" the view iff it has surviving rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def additive_agg_state(
    df: DataFrame, keys: list[str], sums: dict[str, Column]
) -> DataFrame:
    """Aggregate state rows (keys..., n, <name>...) — the maintained view."""
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(c).alias(name) for name, c in sums.items()]
    return df.groupBy(*keys).agg(*aggs)


def apply_delta(
    state: DataFrame,
    added: DataFrame,
    removed: DataFrame,
    keys: list[str],
    sums: dict[str, Column],
) -> DataFrame:
    """``state`` advanced by the diff: + agg(added) - agg(removed).

    Both diff sides aggregate in one pass (sign column), then merge with
    the state by a union + re-aggregate on the group keys — the state is
    group-sized, so this is the cheap side. Zero-count groups drop.
    """
    sign = F.col("__sign")
    delta = added.withColumn("__sign", F.lit(1)).unionByName(
        removed.withColumn("__sign", F.lit(-1))
    )
    d_aggs = [F.sum(sign).alias("n")]
    d_aggs += [F.sum(c * sign).alias(name) for name, c in sums.items()]
    d_state = delta.groupBy(*keys).agg(*d_aggs)
    merged = state.unionByName(d_state).groupBy(*keys).agg(
        F.sum("n").alias("n"),
        *[F.sum(name).alias(name) for name in sums],
    )
    return merged.filter(F.col("n") > 0)
