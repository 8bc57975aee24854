"""String edit distance: Levenshtein.

Reference capability: EntityResolution.scala:188-202 (Lucene's metrics).
Implemented from the public algorithm definition; AgentMatch's soft-TF-IDF
scoring (``er_scoring``) uses it as the secondary metric.
"""

from __future__ import annotations


def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
