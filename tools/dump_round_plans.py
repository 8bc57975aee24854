"""Dump a REPRESENTATIVE mid-loop round's physical plan for the fixpoint
operators (round-11 VERDICT item 9: full-query plan dumps only capture the
final fragment of an iterative chain, so per-round claims — partition
sizing, exchange counts — need a round-2 dump).

Builds the q_components_star bench graph, materializes round 1 exactly as
connected_components_star does, then explains round 2's composed
large-star+small-star+signature plan under the operator's own scoping.

Usage: python tools/dump_round_plans.py TAG SUFFIX
  -> plans/TAG/components_star_round2_SUFFIX.txt
Set SPARK_GRAFT_LOOP_SMALL_ROWS=0 to capture the unscoped (session
default) variant as the "before".
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from thymeflow_back_spark.operators import closure  # noqa: E402
from thymeflow_back_spark.operators.looptune import (  # noqa: E402
    fixpoint_partitions,
    scoped_shuffle_partitions,
)
from thymeflow_back_spark.queries import catalog  # noqa: E402
from thymeflow_back_spark.session import get_spark  # noqa: E402
from thymeflow_back_spark.tables import load  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    out_dir = os.path.join("plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-round-plans")

    # the q_components_star graph, canonicalized exactly as the operator does
    from thymeflow_back_spark.queries.pipeline import _cc_edges

    raw = _cc_edges(spark, SF).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sig = closure._edge_signature(e)
    with scoped_shuffle_partitions(spark, fixpoint_partitions(sig[0])):
        r1 = closure._small_star(closure._large_star(e)).localCheckpoint(eager=False)
        sig1 = closure._edge_signature(r1)
    # round 2's plan, scoped the way the loop scopes it
    with scoped_shuffle_partitions(spark, fixpoint_partitions(sig1[0])):
        r2 = closure._small_star(closure._large_star(r1))
        plan = r2._sc._jvm.PythonSQLUtils.explainString(
            r2._jdf.queryExecution(), "formatted"
        )
    path = os.path.join(out_dir, f"components_star_round2_{suffix}.txt")
    with open(path, "w") as f:
        f.write(
            f"-- round-2 star-CC plan; |e| round1={sig[0]} round2={sig1[0]},"
            f" scoped partitions={fixpoint_partitions(sig1[0])}\n"
        )
        f.write(plan)
    print(path, "edges r1:", sig[0], "r2:", sig1[0], flush=True)


if __name__ == "__main__":
    main()
