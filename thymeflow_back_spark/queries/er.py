"""Entity-resolution queries: token-blocked name-similarity join, and one
PARIS step over synthetic agent facets.

AgentMatch (enrichers/agent_match.py) scores candidates with Python
soft-TF-IDF and is pytest-verified; ``q_er_part_names`` exercises the same
token-blocking join shape with an engine-native integer metric
(levenshtein) so it has a bit-exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load
from .catalog import query

MAX_LEV = 2


@query(
    "q_er_part_names",
    oracle=f"""
    WITH toks AS (
      SELECT p_partkey, p_name, unnest(string_split(p_name, ' ')) AS token
      FROM part
    ),
    cands AS (
      SELECT DISTINCT a.p_partkey AS a_key, b.p_partkey AS b_key,
             a.p_name AS a_name, b.p_name AS b_name
      FROM toks a JOIN toks b ON a.token = b.token AND a.p_partkey < b.p_partkey
    )
    SELECT a_key, b_key, levenshtein(a_name, b_name) AS lev
    FROM cands
    WHERE levenshtein(a_name, b_name) <= {MAX_LEV}
    ORDER BY a_key, b_key
    """,
    doc="Name-similarity join: token-blocking (explode name tokens → "
    "equi-join) + edit-distance filter — the candidate-pair shape of the "
    "reference's agent matcher (AgentMatchEnricher.scala:249-334) with an "
    "engine-native metric.",
)
def q_er_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    toks = part.select(
        "p_partkey", "p_name", F.explode(F.split("p_name", " ")).alias("token")
    )
    a = toks.select(
        F.col("token"),
        F.col("p_partkey").alias("a_key"),
        F.col("p_name").alias("a_name"),
    )
    b = toks.select(
        F.col("token"),
        F.col("p_partkey").alias("b_key"),
        F.col("p_name").alias("b_name"),
    )
    # Evaluate the (threshold-bounded) edit distance BEFORE the pair dedup:
    # part names draw 5 words from a ~92-color vocabulary, so the token
    # block produces tens of millions of pair occurrences at sf0.1 —
    # deduplicating them first means shuffling the full blocked join with
    # both name strings attached (the measured scale-killer: 117 s at
    # sf0.1). The distance is a map-side expression; filtering first
    # shuffles only the few surviving pairs (same result set — the
    # distance is deterministic, so dedup-after == dedup-before).
    return (
        a.join(b, "token")
        .filter(
            (F.col("a_key") < F.col("b_key"))
            # lev >= |len(a)-len(b)|: prune before computing the distance
            & (F.abs(F.length("a_name") - F.length("b_name")) <= MAX_LEV)
        )
        .withColumn("lev", F.levenshtein("a_name", "b_name", MAX_LEV))
        .filter(F.col("lev") >= 0)
        .select("a_key", "b_key", "lev")
        .dropDuplicates(["a_key", "b_key"])
        .orderBy("a_key", "b_key")
    )


# --- Q: PARIS probabilistic ER over synthetic agent facets -------------------

from ..enrichers.paris import DEFAULT_PRIORS, exact_literal_eq, paris_step  # noqa: E402
from ..rdf import vocab  # noqa: E402

_INV_N, _FUN_N = DEFAULT_PRIORS[vocab.NAME]
_INV_E, _FUN_E = DEFAULT_PRIORS[vocab.EMAIL]

_PARIS_ORACLE = f"""
WITH c AS (SELECT c_custkey AS k, c_name AS name FROM customer),
stmts AS (
  SELECT 'urn:crm:' || k AS x, 'name' AS p, 'name:' || name AS y FROM c
  UNION ALL
  SELECT 'urn:crm:' || k, 'email', 'email:c' || k || '@ex.com' FROM c
  UNION ALL
  SELECT 'urn:mail:' || k, 'name',
         'name:' || CASE WHEN k % 2 = 0 THEN name ELSE name || ' jr' END FROM c
  UNION ALL
  SELECT 'urn:mail:' || k, 'email',
         CASE WHEN k % 5 = 0 THEN 'email:other' || k || '@ex.com'
              ELSE 'email:c' || k || '@ex.com' END
  FROM c WHERE k % 7 <> 0
),
matched AS (
  SELECT a.x, b.x AS xp, a.p, a.y
  FROM stmts a JOIN stmts b ON a.p = b.p AND a.y = b.y AND a.x <> b.x
),
pos AS (
  SELECT x, xp,
         SUM(LN(1 - CASE WHEN p = 'name' THEN {_INV_N!r} ELSE {_INV_E!r} END)) AS pos_log
  FROM matched GROUP BY x, xp
),
neg AS (
  SELECT cd.x, cd.xp,
         SUM(LN(1 - CASE WHEN s.p = 'name' THEN {_FUN_N!r} ELSE {_FUN_E!r} END
                    * CASE WHEN m.y IS NOT NULL THEN 0 ELSE 1 END)) AS neg_log
  FROM (SELECT DISTINCT x, xp FROM matched) cd
  JOIN stmts s ON s.x = cd.x
  LEFT JOIN (SELECT DISTINCT x, xp, p, y FROM matched) m
    ON m.x = cd.x AND m.xp = cd.xp AND m.p = s.p AND m.y = s.y
  GROUP BY cd.x, cd.xp
)
SELECT p.x AS agent, p.xp AS other,
       ROUND((1 - EXP(p.pos_log)) * EXP(n.neg_log), 9) AS prob
FROM pos p JOIN neg n ON p.x = n.x AND p.xp = n.xp
ORDER BY agent, other
"""


@query(
    "q_paris_agents",
    oracle=_PARIS_ORACLE,
    doc="PARIS probabilistic ER: positive/negative evidence under the "
    "reference's functionality priors over synthetic crm/mail agent facets "
    "of the customer table (exact literal equality — the SQL-checkable "
    "mode). Candidate pairs come only from shared objects; the plan never "
    "builds the agent cross product (ParisEnricher.scala:41-280).",
)
def q_paris_agents(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("name")
    )
    crm_name = c.select(
        F.concat(F.lit("urn:crm:"), "k").alias("x"),
        F.lit(vocab.NAME).alias("p"),
        F.concat(F.lit("name:"), "name").alias("y"),
    )
    crm_email = c.select(
        F.concat(F.lit("urn:crm:"), "k").alias("x"),
        F.lit(vocab.EMAIL).alias("p"),
        F.concat(F.lit("email:c"), "k", F.lit("@ex.com")).alias("y"),
    )
    mail_name = c.select(
        F.concat(F.lit("urn:mail:"), "k").alias("x"),
        F.lit(vocab.NAME).alias("p"),
        F.concat(
            F.lit("name:"),
            F.when(F.col("k") % 2 == 0, F.col("name")).otherwise(
                F.concat("name", F.lit(" jr"))
            ),
        ).alias("y"),
    )
    mail_email = c.filter(F.col("k") % 7 != 0).select(
        F.concat(F.lit("urn:mail:"), "k").alias("x"),
        F.lit(vocab.EMAIL).alias("p"),
        F.when(
            F.col("k") % 5 == 0, F.concat(F.lit("email:other"), "k", F.lit("@ex.com"))
        ).otherwise(F.concat(F.lit("email:c"), "k", F.lit("@ex.com"))).alias("y"),
    )
    # the statement relation feeds every functionality/evidence pass of
    # the PARIS step (the plan audit counted 40 re-derivations of the
    # four-projection union) — materialize it once per query
    from ..operators.cachereg import pin

    stmts = pin(crm_name.unionByName(crm_email).unionByName(mail_name).unionByName(mail_email))
    pairs = paris_step(stmts, exact_literal_eq(stmts))
    return pairs.select(
        F.col("x").alias("agent"),
        F.col("xp").alias("other"),
        F.round("prob", 9).alias("prob"),
    ).orderBy("agent", "other")


# --- Q: AgentMatch contact-relative name weighting ---------------------------

from ..enrichers.agent_match import agent_name_weights  # noqa: E402

_WEIGHTS_ORACLE = """
WITH counts AS (
  SELECT 'urn:agent:' || c_custkey AS rep, c_name AS name, TRUE AS is_contact, 1 AS cnt
  FROM customer
  UNION ALL
  SELECT 'urn:agent:' || c.c_custkey, c.c_name || ' (mail)', FALSE, COUNT(*)
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_name
),
totals AS (
  SELECT rep,
         SUM(CASE WHEN is_contact THEN cnt ELSE 0 END) AS tc,
         SUM(CASE WHEN NOT is_contact THEN cnt ELSE 0 END) AS tm
  FROM counts GROUP BY rep
),
mults AS (
  SELECT rep,
         CASE WHEN tc / CAST(tc + tm AS DOUBLE) >= 0.5 OR tc = 0 OR tm = 0
              THEN 1.0 / (tc + tm) ELSE 0.5 / tc END AS c_mult,
         CASE WHEN tc / CAST(tc + tm AS DOUBLE) >= 0.5 OR tc = 0 OR tm = 0
              THEN 1.0 / (tc + tm) ELSE 0.5 / tm END AS m_mult
  FROM totals
)
SELECT c.rep, c.name,
       ROUND(SUM(c.cnt * CASE WHEN c.is_contact THEN m.c_mult ELSE m.m_mult END), 9) AS weight
FROM counts c JOIN mults m ON m.rep = c.rep
GROUP BY c.rep, c.name
ORDER BY c.rep, c.name
"""


@query(
    "q_agent_name_weights",
    oracle=_WEIGHTS_ORACLE,
    doc="AgentMatch contact-relative name weighting: contact-card name "
    "evidence lifted to 1/2 of each agent's mass against per-message name "
    "counts (AgentMatchEnricher.scala:961-1003), over synthetic agent "
    "facets (customer = contact name, orders = message-name occurrences). "
    "One aggregation + one broadcast-size join back; no shuffle beyond the "
    "groupBy.",
)
def q_agent_name_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    contact = c.select(
        F.concat(F.lit("urn:agent:"), "c_custkey").alias("rep"),
        F.col("c_name").alias("name"),
        F.lit(True).alias("is_contact"),
        F.lit(1).cast("long").alias("cnt"),
    )
    message = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.concat(F.lit("urn:agent:"), "c_custkey").alias("rep"),
            F.concat("c_name", F.lit(" (mail)")).alias("name"),
            F.lit(False).alias("is_contact"),
            "cnt",
        )
    )
    counts = contact.unionByName(message)
    return (
        agent_name_weights(counts, 0.5)
        .select("rep", "name", F.round("weight", 9).alias("weight"))
        .orderBy("rep", "name")
    )
