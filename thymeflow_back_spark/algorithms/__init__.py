"""Local (per-group / per-pair) algorithms used inside Pandas UDFs.

These are the reference's in-heap algorithm suite re-implemented from public
algorithmic knowledge (Hungarian assignment, Levenshtein distance and the
name-part scoring of AgentMatch, stay-point clustering, Porter stemming,
Viterbi trellis). They run driver-free inside
applyInPandas/mapInPandas partitions — each call touches only one group's
data (one user's track, one candidate pair), so distribution comes from the
surrounding DataFrame job, not from the algorithm. Each caller imports the
module it uses.
"""
