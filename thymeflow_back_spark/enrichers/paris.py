"""PARIS probabilistic entity resolution (reference ParisEnricher.scala:
41-280, after Suchanek/Abiteboul/Senellart's PARIS paper).

Instance-equality probabilities are computed from statement evidence under
property functionality priors:

- positive evidence (inverse functionality): two instances sharing equal
  objects on an inverse-functional property are likely the same —
  P⁺(x,x') = 1 - Π (1 - invFun(p)·eq(y,y')) over object pairs.
- negative evidence (functionality): a functional property whose object
  values differ is evidence against —
  P⁻(x,x') = Π over x-statements (1 - fun(p)·Π(1 - eq(y,y'))).
- P(x,x') = P⁺ · P⁻. The reference iterates, feeding instance equalities
  back as object equalities; ``paris_step`` is one iteration, the form the
  catalog's ``q_paris_agents`` checks against its SQL oracle.

Spark shape: a step is two join+aggregate passes in LOG space (products
become SUM(log), exp at the end), evaluated only on candidate pairs
(instances connected through at least one positively-equal object on a
prior-carrying property) — never the instance cross product. Pairs whose
objects never match simply don't appear (their unmatched factors are 1).
Literal equalities come from exact value identity (``exact_literal_eq``).

Default priors are the reference's measured values: schema:name
invFun 0.9700722394220846 / fun 0.8043465064044194, email invFun 0.99 /
fun 0.8731440162271805 (ParisEnricher.scala:50-55).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf import vocab

DEFAULT_PRIORS: dict[str, tuple[float, float]] = {
    # prop -> (inverse_functionality, functionality)
    vocab.NAME: (0.9700722394220846, 0.8043465064044194),
    vocab.EMAIL: (0.99, 0.8731440162271805),
}

# statements schema: (x, p, y) — y is an object identifier (literal id or
# instance iri). literal_eq schema: (y1, y2, eq) with eq in (0, 1].


def _priors_cols(priors: dict[str, tuple[float, float]]):
    invfun = F.create_map(
        *[F.lit(v) for p, (i, _) in priors.items() for v in (p, float(i))]
    )
    fun = F.create_map(
        *[F.lit(v) for p, (_, f) in priors.items() for v in (p, float(f))]
    )
    return invfun, fun


def exact_literal_eq(stmts: DataFrame) -> DataFrame:
    """Literal equality from exact object identity: every distinct object id
    is equal to itself with probability 1. With literal ids minted per
    (value) — not per occurrence — this makes eq(y,y') = 1 iff values are
    identical, the SQL-expressible mode."""
    ids = stmts.select(F.col("y").alias("y1")).dropDuplicates()
    return ids.select("y1", F.col("y1").alias("y2"), F.lit(1.0).alias("eq"))


def paris_step(
    stmts: DataFrame,
    object_eq: DataFrame,
    priors: dict[str, tuple[float, float]] = DEFAULT_PRIORS,
) -> DataFrame:
    """One PARIS iteration → (x, xp, prob) over candidate pairs.

    ``object_eq`` must contain every positively-equal object pair
    (including reflexive rows if exact identity counts as equality).
    """
    invfun_map, fun_map = _priors_cols(priors)
    s = stmts.filter(F.col("p").isin(*priors.keys()))
    s1 = s.select(F.col("x"), F.col("p"), F.col("y"))

    # matched object pairs across instances on the same property
    matched = (
        s1.alias("a")
        .join(object_eq, F.col("a.y") == F.col("y1"))
        .join(
            s1.alias("b"),
            (F.col("y2") == F.col("b.y")) & (F.col("a.p") == F.col("b.p")),
        )
        .filter(F.col("a.x") != F.col("b.x"))
        .select(
            F.col("a.x").alias("x"),
            F.col("b.x").alias("xp"),
            F.col("a.p").alias("p"),
            F.col("a.y").alias("y"),
            F.col("b.y").alias("yp"),
            F.col("eq"),
        )
    )

    # positive evidence: Σ log(1 - invFun·eq) over all matched pairs
    pos = (
        # clamp so a (prior=1, eq=1) pair stays finite (log1p(-1) is NULL)
        matched.withColumn(
            "lg",
            F.log1p(-F.least(invfun_map[F.col("p")] * F.col("eq"), F.lit(1.0 - 1e-15))),
        )
        .groupBy("x", "xp")
        .agg(F.sum("lg").alias("pos_log"))
    )

    # negative evidence: per x-statement, inner = Π(1-eq) over x'-objects of
    # the same property; factor = 1 - fun·inner; unmatched statements keep
    # inner = 1. Needs candidate × x-statements, bounded by candidate count.
    cands = pos.select("x", "xp")
    # eq = 1 makes the inner product exactly 0; Spark's log1p(-1) is NULL
    # (not -inf), so exact matches are tracked with a flag instead
    inner = (
        matched.groupBy("x", "xp", "p", "y")
        .agg(
            F.max((F.col("eq") >= 1.0).cast("int")).alias("exact"),
            F.sum(
                F.when(F.col("eq") < 1.0, F.log1p(-F.col("eq"))).otherwise(F.lit(0.0))
            ).alias("inner_log"),
        )
        .withColumn(
            "inner",
            F.when(F.col("exact") == 1, F.lit(0.0)).otherwise(F.exp("inner_log")),
        )
    )
    neg = (
        cands.join(s1, "x")
        .join(inner.select("x", "xp", "p", "y", "inner"), ["x", "xp", "p", "y"], "left")
        .withColumn(
            # fun = 1.0 with inner = 1 makes the argument exactly 0, and
            # Spark log(0) is NULL, which SUM would silently skip — dropping
            # the zero factor that must drive the pair probability to 0.
            # Clamp like the positive-evidence side.
            "factor",
            F.log(
                F.greatest(
                    1.0 - fun_map[F.col("p")] * F.coalesce("inner", F.lit(1.0)),
                    F.lit(1e-15),
                )
            ),
        )
        .groupBy("x", "xp")
        .agg(F.sum("factor").alias("neg_log"))
    )

    return pos.join(neg, ["x", "xp"]).select(
        "x",
        "xp",
        ((1.0 - F.exp("pos_log")) * F.exp("neg_log")).alias("prob"),
    )
