"""Transitive closure / connected components as iterative DataFrame jobs.

The reference needs `personal:sameAs*` reflexive-transitive closure
(AbstractEnricher.scala:17-21, PrimaryFacetEnricher.scala:20-27) and BFS
connected components over candidate-equality graphs
(graph/ConnectedComponents.scala:9-36). In Spark both are driver-side
fixpoint loops of joins — semi-naïve (only the frontier joins each round),
with localCheckpoint every few rounds to cut lineage.

Scale: min-label propagation converges in O(diameter) rounds; sameAs-style
equivalence graphs are unions of small cliques (diameter ~2-3), so 3-5
rounds of hash joins. For adversarial long-chain graphs, switch to the
large-star/small-star algorithm (same join primitives, O(log n) rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .looptune import fixpoint_partitions, scoped_shuffle_partitions


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Min-label propagation: returns (node, component) — component is the
    smallest node id reachable (ids must be orderable; works for numeric or
    string ids).

    Convergence is checked after every round: sameAs-style graphs converge
    in 2-3 rounds, so checking each round with flat lineage beats piling k
    rounds of nested plans between checks (measured on the IFP component
    query).

    Round discipline (optimization round 11 — guide §1.2): each round is
    materialized by ONE action — a lazy localCheckpoint forced by the
    count+hash-sum signature aggregate — instead of the former
    eager-checkpoint + changed-count pair; the exact equality check runs
    only when the signature repeats (once, at the fixpoint, plus
    vanishingly rare hash-sum collisions which cost one extra exact
    check, never correctness). A rank-encode of string node ids to
    bigint surrogates (to dodge min(string)'s SortAggregate fallback)
    was tried and REVERTED: the two per-edge mapping joins plus the
    prefix-sum rank pass cost more than the narrow-type rounds saved
    (isolated A/B on q_primary_facet: 17.5 → 22.8 s count median)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .dropDuplicates()
        # the edge list joins into EVERY round — materialize it once, or the
        # whole upstream pair-generation (e.g. the IFP self-join) re-executes
        # per iteration (lazy checkpoint: the count below forces it, so
        # materialize + size measurement is ONE job, not two)
        .localCheckpoint(eager=False)
    )
    # |sym| sizes every round's exchanges (the join/groupBy volume is
    # O(|sym|), not O(|labels|)) — round 12, guide §2.2: the loop scopes
    # its shuffle partitions to the measured state size instead of the
    # session's core-count default (see operators/looptune.py).
    sym_n = sym.count()
    labels = (
        sym.select(F.col("a").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    spark = edges.sparkSession
    with scoped_shuffle_partitions(spark, fixpoint_partitions(sym_n)):
        sig_prev = _label_signature(labels)  # materializes the checkpoint too
        converged = False
        for _ in range(max_iterations):
            neighbor_min = (
                sym.join(labels, sym["b"] == labels["node"])
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("component").alias("nbr_component"))
            )
            new_labels = (
                labels.join(neighbor_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                    ).alias("component"),
                )
                .localCheckpoint(eager=False)
            )
            sig_next = _label_signature(new_labels)  # ONE job: materialize + guard
            # labels are a set keyed by node with a fixed node set, so equal
            # cardinality + one-sided difference emptiness = exact equality
            stable = (
                sig_next == sig_prev
                and new_labels.exceptAll(labels).limit(1).count() == 0
            )
            labels = new_labels
            sig_prev = sig_next
            if stable:
                converged = True
                break
        if not converged:
            # exit by iteration cap: silently-split components would be a wrong
            # answer, not a slow one — verify a full propagation round is a no-op
            neighbor_min = (
                sym.join(labels, sym["b"] == labels["node"])
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("component").alias("nbr_component"))
            )
            pending = (
                labels.join(neighbor_min, "node")
                .filter(F.col("nbr_component") < F.col("component"))
                .limit(1)
                .count()
            )
            if pending:
                raise RuntimeError(
                    f"connected_components did not converge in {max_iterations} "
                    "iterations (component diameter exceeds the cap); raise "
                    "max_iterations or use a large-star/small-star variant"
                )
    return labels


def transitive_closure(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iterations: int = 25
) -> DataFrame:
    """Reachability pairs (src, dst) under reflexive-transitive closure —
    the `p*` property-path semantics. Semi-naïve: only the last frontier
    joins the base edge set each round."""
    base = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).dropDuplicates()
    nodes = base.select("s").unionByName(base.select(F.col("d").alias("s"))).dropDuplicates()
    reach = nodes.select(F.col("s"), F.col("s").alias("d"))  # reflexive
    frontier = base
    reach = reach.unionByName(frontier).dropDuplicates()
    converged = False
    for i in range(max_iterations):
        step = (
            frontier.alias("f")
            .join(base.alias("e"), F.col("f.d") == F.col("e.s"))
            .select(F.col("f.s").alias("s"), F.col("e.d").alias("d"))
            .dropDuplicates()
        )
        new_frontier = step.join(reach, on=["s", "d"], how="left_anti").localCheckpoint(eager=True)
        if new_frontier.limit(1).count() == 0:
            converged = True
            break
        reach = reach.unionByName(new_frontier).dropDuplicates().localCheckpoint(eager=True)
        frontier = new_frontier
    if not converged:
        raise RuntimeError(
            f"transitive_closure did not converge in {max_iterations} iterations "
            "(path length exceeds the cap); raise max_iterations"
        )
    return reach.select(F.col("s").alias(src), F.col("d").alias(dst))


# edge rows a driver-side closure accepts; above it, the distributed forms
LOCAL_CLOSURE_MAX_ROWS = 100_000


def reach_local(adj: dict[str, set[str]], start: str) -> set[str]:
    """Nodes reachable from ``start`` by >= 1 edge of the driver-side
    adjacency ``adj``; ``start`` itself is in the result iff it lies on a
    cycle (the >= 1-step semantics of :func:`reachable_nodes`)."""
    seen: set[str] = set()
    stack = list(adj.get(start, ()))
    while stack:
        cur = stack.pop()
        if cur not in seen:
            seen.add(cur)
            stack.extend(adj.get(cur, ()))
    return seen


def transitive_closure_local(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rows: int = LOCAL_CLOSURE_MAX_ROWS,
) -> DataFrame:
    """Reflexive-transitive closure computed DRIVER-SIDE for MODEL-SIZED
    edge sets — same output relation as :func:`transitive_closure`
    (reflexive pairs for every endpoint + every >= 1-step reachability
    pair), for inputs that are schema/vocabulary-sized by construction
    (the RDFS ontology hierarchies: the reference loads the ontology at
    startup, and subclass/subproperty graphs are bounded by the schema,
    never the data).

    Why: the distributed fixpoint costs ~3 Spark jobs PER ROUND (step
    join, frontier anti-join checkpoint, reach union checkpoint) — pure
    scheduling overhead when the whole relation is a few hundred rows.
    One collect (sanctioned by the house model-sized-collect discipline:
    k-means centroids, BPE merges, NB codebooks) plus a BFS in Python
    replaces 2 x rounds x 3 jobs with one job and one createDataFrame.
    ``max_rows`` guards the contract — a data-sized edge set must use
    the distributed form."""
    rows = edges.select(
        F.col(src).cast("string").alias("s"), F.col(dst).cast("string").alias("d")
    ).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"transitive_closure_local got {len(rows)} edges (> {max_rows}); "
            "use transitive_closure for data-sized inputs"
        )
    adj: dict[str, set[str]] = {}
    nodes: set[str] = set()
    for r in rows:
        adj.setdefault(r["s"], set()).add(r["d"])
        nodes.add(r["s"])
        nodes.add(r["d"])
    pairs: set[tuple[str, str]] = {(n, n) for n in nodes}
    for start in nodes:
        pairs.update((start, d) for d in reach_local(adj, start))
    spark = edges.sparkSession
    return spark.createDataFrame(
        sorted(pairs), schema=f"{src} string, {dst} string"
    )


def reachable_nodes(
    edges: DataFrame,
    start: str,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Nodes reachable from the constant ``start`` via >= 1 edge — the
    SINGLE-SOURCE form of :func:`transitive_closure`. Frontier BFS whose
    per-round work is proportional to the reached subgraph, never the
    all-pairs closure: the scale escape hatch for bound-endpoint SPARQL
    ``p*``/``p+`` patterns (the PrimaryFacetEnricher.scala:20-27 shape
    ``?facet sameAs* <start>``), where materializing the O(component²)
    pair relation just to filter one endpoint would dominate at 100 TB.
    Returns one column ``node``; ``start`` itself appears iff it lies on
    a cycle (>= 1-step semantics — callers add the zero-length row for
    ``p*``)."""
    base = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).dropDuplicates()
    frontier = (
        base.filter(F.col("s") == start)
        .select(F.col("d").alias("node"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    result = frontier
    converged = False
    for _ in range(max_iterations):
        step = (
            frontier.join(base, frontier["node"] == base["s"])
            .select(F.col("d").alias("node"))
            .dropDuplicates()
        )
        new = step.join(result, "node", "left_anti").localCheckpoint(eager=True)
        if new.limit(1).count() == 0:
            converged = True
            break
        result = result.unionByName(new).dropDuplicates().localCheckpoint(
            eager=True
        )
        frontier = new
    if not converged:
        raise RuntimeError(
            f"reachable_nodes did not converge in {max_iterations} iterations "
            "(path length exceeds the cap); raise max_iterations"
        )
    return result


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"): every node's LARGER neighbors re-attach to its
    minimum neighbor (or itself). Strictly monotone — large neighbors only
    ever move to smaller attachment points.

    ``e`` must be canonical: distinct, with u > v on every row. Then
    sym = e ∪ reverse(e) is distinct BY CONSTRUCTION (the two halves live
    in disjoint u>v / u<v orientations), so no ``.distinct()`` — one full
    (u, v) shuffle per round — is needed. Emitted rows are (v, m) with
    m <= u < v, canonical u > v again.

    The output is NOT deduplicated: it feeds straight into
    :func:`_small_star`, whose groupBy-min is duplicate-insensitive and
    whose own trailing distinct collapses the join side, so the composed
    round's OUTPUT is identical with one shuffle fewer (pre-distinct
    large-star output is at most |sym| rows, so no intermediate blowup
    either)."""
    sym = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: each node's SMALLER neighbors (and the node
    itself) attach to its minimum smaller neighbor.

    Every input row must already have u > v (large-star output and the
    canonicalized initial edge set do), so no re-orientation or input-side
    ``.distinct()`` is needed. Input duplicates are harmless: the groupBy
    min is duplicate-insensitive and the final ``.distinct()`` collapses
    the join side. Output rows are (x, m) with m < x — canonical u > v
    again."""
    oriented = e.select("u", "v")
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        oriented.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(m.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _label_signature(labels: DataFrame) -> tuple[int, object]:
    """(row count, order-free exact DECIMAL(38,0) sum of
    xxhash64(node, component)) in ONE job — the propagation loop's
    convergence guard, same discipline as :func:`_edge_signature`: equal
    signatures are necessary for set equality (sufficient up to a hash-sum
    collision), and the caller confirms with an exact one-sided difference
    check before declaring convergence."""
    row = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("node", "component").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), row["h"]


def _edge_signature(e: DataFrame) -> tuple[int, object]:
    """(row count, order-free exact DECIMAL(38,0) sum of xxhash64(u, v)) in
    ONE job — the cheap per-round convergence guard. Equal signatures are
    necessary for set equality (and sufficient up to a 64-bit hash-sum
    collision); the caller confirms with an exact exceptAll before
    declaring convergence, so a collision can only cost one extra exact
    check, never a wrong answer. DECIMAL(38,0) because a BIGINT sum of
    ~2^63-magnitude hashes overflows (and ANSI mode makes that an error)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), row["h"]


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al. 2014) — O(log^2 n) rounds on ANY graph shape, the
    documented scale escape hatch for adversarial long-chain graphs where
    :func:`connected_components`' min-label propagation needs O(diameter)
    rounds (module docstring; the propagation form stays the default for
    the reference's clique-shaped sameAs graphs, diameter 2-3).

    Returns (node, component) with component = smallest reachable id —
    IDENTICAL output to :func:`connected_components` (pytest pins them
    against each other), so callers can switch on graph shape alone.

    Round discipline (optimization round 11 — guide §2.4/§1): the edge
    set is canonicalized to distinct u > v rows ONCE up front, which lets
    every round skip the large-star symmetrize-distinct and small-star
    re-orient-distinct shuffles (see the helpers' docstrings) — 2 fewer
    Exchanges per round. Each round is materialized by a
    SINGLE action (a lazy localCheckpoint forced by the count+hash-sum
    signature aggregate) instead of the former eager-checkpoint + count +
    exceptAll triple; the exact exceptAll equality check now runs only
    when the cheap signature matches the previous round — once, at the
    fixpoint (plus vanishingly rare hash-sum collisions, which cost one
    extra exact check, never correctness). Lineage stays flat via the
    localCheckpoint, so plan analysis cost does not grow with rounds."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Every node incident to ANY edge (including self-loops) must be
    # labeled — min-label propagation emits (x, x) for a self-loop-only
    # node, so the star variant must too (the IDENTICAL-output contract).
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sig_prev = _edge_signature(e)  # materializes the checkpoint too
    if sig_prev[0] == 0:
        return nodes.select("node", F.col("node").alias("component"))
    converged = False
    spark = edges.sparkSession
    for _ in range(max_rounds):
        # Round 12 (guide §2.2): scope the round's exchanges to the
        # MEASURED canonical-edge count from the previous signature —
        # the session default is core-count-sized, which shreds a
        # few-thousand-row loop state into ~100-row tasks (AQE's
        # parallelismFirst coalescing keeps them); the size-derived
        # count is 1 at bench scale and thousands at 100 TB.
        with scoped_shuffle_partitions(spark, fixpoint_partitions(sig_prev[0])):
            nxt = _small_star(_large_star(e)).localCheckpoint(eager=False)
            sig_next = _edge_signature(nxt)  # ONE job: materialize + guard
            # exact set equality = signature match confirmed by ONE one-sided
            # difference check (both sides distinct, equal cardinality, and
            # nxt ⊆ e imply equality)
            stable = sig_next == sig_prev and nxt.exceptAll(e).limit(1).count() == 0
        e = nxt
        sig_prev = sig_next
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds"
        )
    # fixpoint edge set is a star forest: u -> component center; centers
    # label themselves
    labeled = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )
    # self-loop-only nodes never enter a star round; label them (node, node)
    isolated = nodes.join(labeled, "node", "left_anti")
    return labeled.unionByName(
        isolated.select("node", F.col("node").alias("component"))
    )
