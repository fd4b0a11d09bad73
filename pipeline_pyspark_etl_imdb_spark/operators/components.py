"""Connected components over a pair list — dedup cluster resolution.

Near-dup detection produces PAIRS (neardup.py, similarity.py); a dedup
pipeline must then resolve clusters (a~b, b~c => {a,b,c}) and keep one
canonical document per cluster. This is iterative min-label propagation,
expressed in DataFrame ops:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated to fixpoint. Each iteration is one shuffle (join on the edge
list + groupBy); convergence needs O(cluster diameter) rounds — near-dup
clusters are shallow (stars around a template), so 3-5 rounds typical.
The loop is driver-controlled with an explicit convergence count per
round — the standard Spark iterative-algorithm shape (persist the
frontier, unpersist the previous round, hard iteration cap as a
guardrail).

At 100 TB the edge list is the LSH candidate output (already pruned);
label propagation shuffles only (node, label) pairs, so each round moves
8-16 bytes per node, not document content.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.loop import (
    converge,
    fixed_rounds,
    pinned_adjacency,
    seed_nodes,
    symmetrize,
)


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in ``edges``; the component id is
    the minimum node id in the component. Raises if not converged within
    ``max_iter`` (pathologically deep graphs need large-star/small-star)."""
    sym = (
        symmetrize(edges, src_col, dst_col)
        # pin the persisted partitioning to the per-round join key: every
        # iteration joins on sym.a, and a persisted hash partitioning on
        # `a` (matching the session's shuffle-partition count) lets
        # EnsureRequirements skip re-shuffling the edge list each round —
        # only the small (node, label) side moves.
        # repartition BEFORE distinct: HashPartitioning(a) satisfies
        # the dedup aggregate's ClusteredDistribution((a, b)) — rows
        # equal on (a, b) share a, so one exchange serves both, where
        # distinct-then-repartition paid two
        .repartition(F.col("a"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    try:
        # round 1 fused into initialization: with label(u) = u, the first
        # propagation is just min(node, min neighbor) — one aggregation,
        # no join, one fewer full round below. Map-side complete over
        # sym's pinned hash(a) layout — no exchange.
        labels = (
            sym.groupBy(F.col("a").alias("node"))
            .agg(F.min("b").alias("__nbr"))
            .select(
                "node", F.least(F.col("node"), F.col("__nbr")).alias("label")
            )
            .persist()
        )

        def _propagate(labels: DataFrame, _) -> tuple[DataFrame, Column]:
            neighbor_min = (
                sym.join(labels, sym.a == labels.node)
                .groupBy(F.col("b").alias("node2"))
                .agg(F.min("label").alias("nbr_label"))
            )
            new_label = F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            )
            stepped = labels.join(
                neighbor_min, labels.node == neighbor_min.node2, "left"
            ).select(
                "node",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("changed"),
            )
            return stepped, F.col("changed")

        labels = converge(
            labels, _propagate, name="connected_components", max_iter=max_iter
        )
        return labels.select("node", F.col("label").alias("component"))
    finally:
        sym.unpersist()


def dedup_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """The kept corpus: one canonical (minimum-id) document per near-dup
    cluster plus all documents in no cluster. Output: (doc_id, component)
    where component == doc_id for survivors of clusters and singletons."""
    comp = connected_components(pairs, src_col, dst_col)
    clustered = docs.join(comp, docs[id_col] == comp.node, "left").select(
        id_col, F.coalesce(F.col("component"), F.col(id_col)).alias("component")
    )
    return clustered.where(F.col(id_col) == F.col("component")).select(
        id_col, "component"
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    with a DETERMINISTIC update rule: each round every node adopts the
    neighbor label with the highest count, ties broken by the SMALLEST
    label — integer-only arithmetic, so the fixed-round result is
    engine-exact and Python-replayable (tests pin it). Labels start as
    node ids; after ``n_iter`` rounds (node, community) is returned.
    Complements connected components (structure only) and k-core
    (density only): LPA finds dense sub-regions inside one component.

    Physical shape per round (the pagerank loop discipline):
    - the (node, label) frame joins the STATIC symmetrized adjacency —
      broadcast while the node frame fits the budget, so the edge
      partitions never move;
    - one partial-aggregated groupBy (node, neighbor_label) then the
      per-node argmax as a max over the orderable (count, -label)
      struct — map-side combine on both, bytes per (node, label) pair;
    - localCheckpoint truncates lineage each round; the loop builds the
      same lazy chain as pagerank and ONE action materializes it before
      the adjacency cache releases.

    The adjacency is symmetrized from a canonical (src < dst) edge list
    (both directions) so propagation is undirected."""
    adj, n, bcast = pinned_adjacency(
        symmetrize(edges, "src", "dst", "node", "nbr"), "nbr", broadcast_max_nodes
    )
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )

    def _vote(frames: list[DataFrame]) -> DataFrame:
        l_side = frames[-1].select(F.col("node").alias("nbr"), "label")
        if bcast:
            l_side = F.broadcast(l_side)
        votes = (
            adj.join(l_side, "nbr")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        return (
            votes.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"), (-F.col("label")).alias("neg")
                    )
                ).alias("__m")
            )
            .select("node", (-F.col("__m.neg")).alias("label"))
        )

    labels = fixed_rounds(
        labels, _vote, n_iter, name="label_propagation", rows=n, bcast=bcast
    )[-1]
    adj.unpersist()
    return labels.select("node", F.col("label").alias("community"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    max_hops: int = 4,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Multi-source BFS layers: (node, hops) for every node within
    ``max_hops`` of the seed set over the UNDIRECTED graph — the
    path/distance primitive beside min-label CC (reachability), LPA
    (density) and PageRank (centrality). hops = distance to the NEAREST
    seed; nodes further than ``max_hops`` are absent from the output.

    ``seeds`` is a 1-column (node) frame — relational, so no driver value
    is ever collected; None seeds the minimum node id (a 1-row aggregate).
    Hop counts are INTEGER-exact, so the fixed-round result is engine-
    portable and the oracle unrolls the rounds (the LPA discipline);
    rounds past frontier exhaustion are no-ops, not divergence.

    Physical shape per round (the pagerank loop discipline): the frontier
    (new nodes only, never the full dist set) joins the STATIC symmetrized
    adjacency — broadcast while the node frame fits the budget, so edge
    partitions never move; one partial-aggregated distinct on the
    neighbor side; an anti-join against the accumulated distance frame
    admits only unseen nodes. localCheckpoint truncates each frontier's
    lineage; ONE action materializes the chain before the adjacency cache
    releases. Per-round bytes moved: (frontier + new-node) ids, never
    edges, never payloads."""
    adj, n, bcast = pinned_adjacency(
        symmetrize(edges, "src", "dst", "node", "nbr"), "node", broadcast_max_nodes
    )
    hop0 = seed_nodes(adj, seeds).select("node", F.lit(0).cast("int").alias("hops"))

    def _expand(frontiers: list[DataFrame]) -> DataFrame:
        f_side = frontiers[-1].select("node")
        if bcast:
            f_side = F.broadcast(f_side)
        nbrs = (
            adj.join(f_side, "node")
            .select(F.col("nbr").alias("node"))
            .distinct()
        )
        seen = reduce(DataFrame.unionByName, frontiers).select("node")
        if bcast:
            seen = F.broadcast(seen)
        return nbrs.join(seen, "node", "left_anti").select(
            "node", F.lit(len(frontiers)).cast("int").alias("hops")
        )

    frontiers = fixed_rounds(
        hop0, _expand, max_hops, name="bfs_hops", rows=n, bcast=bcast, keep_all=True
    )
    adj.unpersist()
    return reduce(DataFrame.unionByName, frontiers).select("node", "hops")


def sssp_bounded(
    edges: DataFrame,
    weight_col: str = "w",
    n_rounds: int = 6,
    seeds: DataFrame | None = None,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Bounded-hop weighted shortest distances: (node, dist) where dist =
    the minimum total weight over paths of at most ``n_rounds`` edges
    from the seed set, over the UNDIRECTED weighted graph. Nodes not
    reachable within ``n_rounds`` edges are absent — the weighted
    generalization of bfs_hops (set every weight to 1 and dist == hops).

    FIXED round count by design, not a convergence loop: "min path
    weight over <= R edges" is a well-defined quantity both engines
    compute identically, so the oracle unrolls the same R Bellman-Ford
    rounds (oracles._sssp_sql) and rounds past convergence are no-ops —
    the BFS/LPA discipline. Integer weights make every distance and
    comparison integer-exact: no float path-sum margins exist.

    Physical shape per round (frontier-restricted relaxation — provably
    equal to full relaxation per round, since an unimproved node's
    contribution was already applied with the same distance in an
    earlier round):
    - the frontier (nodes improved last round, never the full dist set)
      joins the STATIC symmetrized adjacency — broadcast while the node
      frame fits the budget, so edge partitions never move;
    - candidate distances partial-aggregate (min) to node domain;
    - a node-keyed outer merge against the accumulated dist frame keeps
      the row-minimum and emits the improved set as the next frontier.
    localCheckpoint truncates each round's lineage (lazy — no per-round
    action; ONE count materializes the chain before the adjacency cache
    releases). Per-round bytes: (node, dist) pairs, never edges, never
    payloads. At 100 TB: adjacency stays partitioned in place; the dist
    frame is node-domain-sized.
    """
    adj, n, bcast = pinned_adjacency(
        symmetrize(
            edges, "src", "dst", "node", "nbr", w=F.col(weight_col).cast("long")
        ),
        "node",
        broadcast_max_nodes,
    )
    dist0 = seed_nodes(adj, seeds).select(
        "node", F.lit(0).cast("long").alias("dist")
    )

    def _relax(rounds: list[DataFrame]) -> DataFrame:
        dist = rounds[-1].select("node", "dist")
        # round 0 is the seed set, all of it frontier; later rounds carry
        # the improved set the previous merge flagged
        frontier = rounds[-1].where("__improved") if len(rounds) > 1 else dist
        f_side = frontier.select("node", "dist")
        if bcast:
            f_side = F.broadcast(f_side)
        cand = adj.join(f_side, "node").select(
            F.col("nbr").alias("node"), (F.col("dist") + F.col("w")).alias("d")
        )
        # merge = UNION ALL + one partial-aggregated min (the oracle's
        # exact shape): a full-outer join can't broadcast in Spark, so
        # this keeps the per-round merge to ONE node-domain shuffle with
        # map-side combine — no join at all
        return (
            dist.select("node", F.col("dist").alias("d"), F.lit(True).alias("__old"))
            .unionByName(cand.select("node", "d", F.lit(False).alias("__old")))
            .groupBy("node")
            .agg(
                F.min("d").alias("dist"),
                F.min(F.when(F.col("__old"), F.col("d"))).alias("__od"),
            )
            .select(
                "node",
                "dist",
                (
                    F.col("__od").isNull() | (F.col("dist") < F.col("__od"))
                ).alias("__improved"),
            )
        )

    rounds = fixed_rounds(
        dist0, _relax, n_rounds, name="sssp_bounded", rows=n, bcast=bcast, keep_all=True
    )
    adj.unpersist()
    return rounds[-1].select("node", "dist")


def bfs_label_budget(
    edges: DataFrame,
    weak_col: str = "is_weak",
    max_weak: int = 1,
    max_hops: int = 4,
    seeds: DataFrame | None = None,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Label-constrained reachability: (node, hops, weak_used) for every
    node reachable from the seed set within ``max_hops`` edges using AT
    MOST ``max_weak`` weak edges (``weak_col`` is 0/1 per edge) — the
    budgeted-label path primitive (the property-path class: "reach v via
    strong ties, spending at most K weak hops"). hops = minimum hop
    count under the budget; weak_used = minimum weak count among those
    hop-minimal paths (lexicographic (hops, weak) argmin — integer-
    deterministic).

    This is BFS over the PRODUCT graph of (node, weak-spent) automaton
    states: a strong edge maps (v, w) -> (nbr, w), a weak edge maps
    (v, w) -> (nbr, w+1) while w+1 <= max_weak. State domain is
    (max_weak+1) x nodes — node-domain bounded, so the 100 TB posture is
    bfs_hops' unchanged: the frontier STATE set (never the full seen
    set) joins the static pinned adjacency under the broadcast budget,
    an anti-join on (node, w) admits unseen states, every frontier
    localCheckpoints (lazy) with deferred release, and ONE action
    materializes the chain. Integer-exact end to end, so the
    fixed-round result is engine-portable and the oracle unrolls the
    same rounds over state pairs (oracles._label_bfs_sql)."""
    adj, rows, bcast = pinned_adjacency(
        symmetrize(
            edges, "src", "dst", "node", "nbr", wk=F.col(weak_col).cast("int")
        ),
        "node",
        broadcast_max_nodes,
        states_per_node=max_weak + 1,
    )
    # automaton start state: (seed, w=0) at hop 0
    start = seed_nodes(adj, seeds).select(
        "node", F.lit(0).cast("int").alias("w"), F.lit(0).cast("int").alias("hops")
    )

    def _expand(frontiers: list[DataFrame]) -> DataFrame:
        f_side = frontiers[-1].select("node", "w")
        if bcast:
            f_side = F.broadcast(f_side)
        cand = (
            adj.join(f_side, "node")
            .select(
                F.col("nbr").alias("node"),
                (F.col("w") + F.col("wk")).alias("w"),
            )
            .where(F.col("w") <= max_weak)
            .distinct()
        )
        s_side = reduce(DataFrame.unionByName, frontiers).select("node", "w")
        if bcast:
            s_side = F.broadcast(s_side)
        return cand.join(s_side, ["node", "w"], "left_anti").select(
            "node", "w", F.lit(len(frontiers)).cast("int").alias("hops")
        )

    frontiers = fixed_rounds(
        start,
        _expand,
        max_hops,
        name="bfs_label_budget",
        rows=rows,
        bcast=bcast,
        keep_all=True,
    )
    adj.unpersist()
    seen = reduce(DataFrame.unionByName, frontiers)
    # collapse automaton states to the node answer: lexicographic
    # (hops, weak) min — first-reached hop, thriftiest budget at that hop
    best = F.min(F.struct(F.col("hops"), F.col("w"))).alias("__b")
    return (
        seen.groupBy("node")
        .agg(best)
        .select(
            "node",
            F.col("__b.hops").alias("hops"),
            F.col("__b.w").alias("weak_used"),
        )
    )
