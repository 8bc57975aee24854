"""Golden tests for the local algorithm suite (goldens + property checks).
Pure Python — no Spark session needed."""

from __future__ import annotations

import random

from thymeflow_back_spark.algorithms.matching import hungarian
from thymeflow_back_spark.algorithms.strings import levenshtein


def test_hungarian_square():
    cost = [[4, 1, 3], [2, 0, 5], [3, 2, 2]]
    total, assign = hungarian(cost)
    assert total == 5 and assign == [1, 0, 2]


def test_hungarian_rectangular():
    total, assign = hungarian([[1, 2, 3], [3, 1, 2]])
    assert total == 2 and assign == [0, 1]
    total_t, assign_t = hungarian([[1, 3], [2, 1], [3, 2]])
    assert total_t == 2 and assign_t.count(-1) == 1


def test_hungarian_matches_bruteforce():
    rnd = random.Random(3)
    for _ in range(20):
        n = rnd.randrange(1, 5)
        cost = [[rnd.randrange(0, 10) for _ in range(n)] for _ in range(n)]
        total, _ = hungarian(cost)
        import itertools

        best = min(sum(cost[i][p[i]] for i in range(n)) for p in itertools.permutations(range(n)))
        assert total == best


def test_levenshtein():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
