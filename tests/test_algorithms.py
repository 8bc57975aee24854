"""Golden tests for the local algorithm suite (FIXTURES.md §5/§6 goldens +
property checks). Pure Python — no Spark session needed."""

from __future__ import annotations

import random

from thymeflow_back_spark.algorithms.alignment import align_queries
from thymeflow_back_spark.algorithms.flow import min_cost_max_flow
from thymeflow_back_spark.algorithms.matching import hungarian
from thymeflow_back_spark.algorithms.strings import levenshtein


def test_alignment_reference_golden():
    # FIXTURES.md §5: (["JOHN","SMITH"], "SMITH.JOHN") → JOHN@[6,9], SMITH@[0,4]
    got = {a.query: (a.matched, a.start, a.end) for a in align_queries(["JOHN", "SMITH"], "SMITH.JOHN")}
    assert got["JOHN"] == ("JOHN", 6, 9)
    assert got["SMITH"] == ("SMITH", 0, 4)


def test_alignment_approximate():
    got = {a.query: a for a in align_queries(["WONDERS"], "Alice Wondrs")}
    a = got["WONDERS"]
    assert a.start == 6 and "Wondrs".lower() in a.matched.lower()


def test_flow_trellis_golden():
    # FIXTURES.md §6: trellis → flow 1, cost 5
    edges = [(0, 1, 1, 0), (1, 2, 1, 4), (1, 3, 1, 10), (2, 4, 1, 1), (3, 4, 1, 3)]
    flow, cost, edge_flows = min_cost_max_flow(5, edges, 0, 4)
    assert flow == 1 and cost == 5
    flows = {(u, v): f for u, v, f in edge_flows}
    assert flows[(1, 2)] == 1 and flows[(1, 3)] == 0


def test_flow_parallel_paths():
    edges = [(0, 1, 10, 1), (0, 2, 10, 2), (1, 3, 10, 1), (2, 3, 10, 2), (1, 2, 5, 0)]
    flow, cost, _ = min_cost_max_flow(4, edges, 0, 3)
    assert flow == 20
    assert cost == 10 * 2 + 10 * 4  # cheap path saturates first


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
