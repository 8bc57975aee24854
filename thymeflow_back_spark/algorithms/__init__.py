"""Local (per-group / per-pair) algorithms used inside Pandas UDFs.

These are the reference's in-heap algorithm suite re-implemented from public
algorithmic knowledge (min-cost flow, Hungarian assignment, Smith-Waterman
alignment, Levenshtein distance, stay-point clustering). They run
driver-free inside applyInPandas/mapInPandas partitions — each call touches
only one group's data (one user's track, one candidate pair), so
distribution comes from the surrounding DataFrame job, not from the
algorithm.
"""

from .flow import min_cost_max_flow
from .matching import hungarian
from .alignment import align_queries
from .strings import levenshtein

__all__ = ["min_cost_max_flow", "hungarian", "align_queries", "levenshtein"]
