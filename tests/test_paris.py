"""PARIS probabilistic ER tests (reference ParisEnricher.scala semantics:
positive/negative evidence under functionality priors, one step)."""

from __future__ import annotations

import pytest

from thymeflow_back_spark.enrichers.paris import DEFAULT_PRIORS, exact_literal_eq, paris_step
from thymeflow_back_spark.rdf import vocab

NAME, EMAIL = vocab.NAME, vocab.EMAIL
INV_N, FUN_N = DEFAULT_PRIORS[NAME]
INV_E, FUN_E = DEFAULT_PRIORS[EMAIL]


def _stmts(spark, rows):
    return spark.createDataFrame(rows, "x string, p string, y string")


def test_positive_and_negative_evidence(spark):
    """Two agents: same name, different email → positive name evidence,
    negative email evidence, exactly the reference formula."""
    stmts = _stmts(
        spark,
        [
            ("urn:a", NAME, "name:alice"),
            ("urn:a", EMAIL, "email:a@x.org"),
            ("urn:b", NAME, "name:alice"),
            ("urn:b", EMAIL, "email:b@y.org"),
        ],
    )
    got = {(r.x, r.xp): r.prob for r in paris_step(stmts, exact_literal_eq(stmts)).collect()}
    # P+ = 1 - (1 - invFun_name·1); P- = (1 - fun_name·0)·(1 - fun_email·1)
    expected = INV_N * (1.0 - FUN_E)
    assert got[("urn:a", "urn:b")] == pytest.approx(expected)
    assert got[("urn:b", "urn:a")] == pytest.approx(expected)


def test_shared_email_high_probability(spark):
    stmts = _stmts(
        spark,
        [
            ("urn:a", NAME, "name:alice wonders"),
            ("urn:a", EMAIL, "email:aw@x.org"),
            ("urn:b", NAME, "name:alice wonders"),
            ("urn:b", EMAIL, "email:aw@x.org"),
        ],
    )
    got = {(r.x, r.xp): r.prob for r in paris_step(stmts, exact_literal_eq(stmts)).collect()}
    expected = 1.0 - (1.0 - INV_N) * (1.0 - INV_E)  # both props agree, no negatives
    assert got[("urn:a", "urn:b")] == pytest.approx(expected)
    assert expected > 0.99


def test_no_shared_objects_no_candidates(spark):
    stmts = _stmts(
        spark,
        [("urn:a", NAME, "name:alice"), ("urn:b", NAME, "name:bob")],
    )
    assert paris_step(stmts, exact_literal_eq(stmts)).count() == 0
