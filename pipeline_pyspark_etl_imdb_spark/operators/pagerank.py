"""PageRank over a directed edge list — weighted iterative propagation.

Complements connected components (components.py): CC propagates a MIN
label to a fixpoint; PageRank propagates a WEIGHTED rank mass for a fixed
number of rounds. Together they cover the two shapes every DataFrame
graph algorithm reduces to.

Physical shape per iteration (the only one that survives 100 TB):

- contributions = ranks ⋈ edges on src (edges pre-partitioned on src and
  persisted, so every round reuses the same co-located layout and only
  the small (node, rank) frame re-shuffles),
- partial-aggregated groupBy(dst) sum — bytes per node, never per edge,
  after the map-side combine,
- dangling-node mass folded back as ONE scalar (a 1-row aggregate,
  broadcast by Catalyst), not a per-node join.

``localCheckpoint`` truncates lineage each round so round N's plan stays
O(1) (the CC loop established the pattern). By default the iteration
count is fixed (no float convergence test), which keeps the result
deterministic per engine; float summation order still varies across
engines, but the update rule contains no comparisons, so the ~1e-15
relative spread is invisible at the oracle protocol's 6-decimal rounding
— the registry query is fully oracle-backed (plans/oracles.py
``_pagerank_sql`` unrolls the rounds as MATERIALIZED CTEs) and
tests/test_pagerank.py additionally bounds the values against an
independent NumPy power iteration.

``tol`` adds an early exit: stop once max |Δrank| < tol (one extra
small-frame join per round; the count of nodes that moved by tol or more
is observed during the round's own eager checkpoint). The exit is deterministic for
a given engine — the NumPy gate applies the identical rule — and only
ambiguous if a round's delta lands within float-noise of tol itself
(geometric convergence makes that measure-zero in practice). NOTE,
measured: the sf0.1 customer→supplier fixture graph contracts at ratio
~0.80/round (Δ after round 10 is 1.1e-4, still above the uniform rank
1/n = 6.3e-5), so NO useful tol exits before 10 rounds there — the
fixture query deliberately keeps the fixed count; tol is for graphs
that do converge fast (cycles/stars reach their fixpoint in a few
rounds, see tests/test_pagerank.py::test_pagerank_tol_early_exit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.loop import (
    converge,
    edge_partitions,
    fixed_rounds,
    node_partitions,
)


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    damping: float = 0.85,
    n_iter: int = 10,
    tol: float | None = None,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous power iterations with
    uniform teleport; ranks sum to 1. Nodes = union of both edge
    endpoints; parallel edges act as weight (each contributes).

    Two per-round costs are hoisted out of the loop:

    - the dangling-node set is static (out-degree never changes), so it's
      computed ONCE as a boolean flag carried on the rank frame; each
      round's dangling mass is then a map-only filtered sum — the naive
      per-round ``ranks ANTI JOIN out_deg`` re-shuffles the rank frame
      every iteration for a set that never changes;
    - while the rank frame fits the broadcast budget
      (``broadcast_max_nodes``), both per-round joins broadcast the small
      node-keyed side, so the persisted edge partitions NEVER move — the
      only per-round shuffle is the map-side-combined groupBy(dst). Past
      the budget (billion-node graphs) it falls back to the partitioned
      join against the src-pinned edge layout.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    nodes0 = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(
            out_deg.select(F.col("src").alias("node"), F.lit(False).alias("dang")),
            "node",
            "left",
        )
        .select("node", F.coalesce("dang", F.lit(True)).alias("dang"))
        .persist()
    )
    n = nodes0.count()
    if n == 0:
        # empty graph: zero rows, not a phantom row or a 1/0 teleport —
        # the bfs_hops empty-shape contract (b934e1d); the unrolled-CTE
        # oracle yields the same (every round CTE is empty)
        nodes0.unpersist()
        return nodes0.select("node", F.lit(None).cast("double").alias("rank"))
    # frame-proportional partitioning (see loop.edge_partitions): the
    # rank/node frames are 2-3 columns of ~20 B/row, the edge frame similar
    np_nodes = node_partitions(spark, n)
    nodes = nodes0.coalesce(np_nodes)
    bcast = n <= broadcast_max_nodes
    # one shuffle up front; the pinned layout depends on how the rank
    # frame arrives each round:
    # - broadcast regime (n within budget): partition edges by DST, so
    #   the groupBy(dst) inside the per-round broadcast subtree is a
    #   map-side-COMPLETE aggregate with no Exchange at all;
    # - partitioned regime (billion-node graphs): partition by SRC, so
    #   the per-round rank join co-locates against the pinned layout and
    #   only the small (node, rank) frame moves — dst layout there would
    #   re-shuffle the EDGES every round.
    # The expensive caller subtree (edges is usually itself a join) is
    # evaluated ONCE: materialize at natural partitioning, size the
    # pinned layout from the measured count, repartition FROM CACHE.
    e_deg0 = e.join(out_deg, "src").persist()
    ep_edges = edge_partitions(spark, e_deg0.count())
    edges_deg = e_deg0.repartition(ep_edges, "dst" if bcast else "src").persist()
    edges_deg.count()  # materialize once, outside the loop
    e_deg0.unpersist()
    if bcast:
        # pin the node frame on hash(node) at the EDGE layout's width:
        # the per-round contribution aggregate inherits
        # HashPartitioning(dst, ep_edges) from the pinned edge layout
        # (its groupBy is map-side complete), and after the dst->node
        # alias that is exactly this layout — so the per-round
        # nodes x contribs join runs as a ZERO-exchange co-partitioned
        # shuffled-hash join instead of building a fresh broadcast of
        # the contribution frame every round (one fewer broadcast-build
        # job per round; the SHUFFLE_HASH hint keeps SMJ's per-round
        # sorts out). One extra setup shuffle of the node-domain frame
        # pays for it.
        nodes = nodes0.repartition(ep_edges, "node").persist()
        nodes.count()

    ranks = nodes.select("node", "dang", F.lit(1.0 / n).alias("rank"))

    def _step(r: DataFrame) -> DataFrame:
        # dangling mass IN-PLAN: `r` is (at round 2+) a checkpointed
        # LogicalRDD, so referencing it twice — contributions AND the
        # 1-row dangling aggregate — costs two scans of the NODE-sized
        # frame, not a recompute; carrying dm as a broadcast scalar frame
        # needs no per-round driver collect(), so the fixed-count loop
        # materializes as ONE lazy checkpoint chain in the final action.
        # coalesce: a graph with NO dangling nodes sums over an empty
        # frame -> NULL, which would NULL-poison every rank downstream
        dmf = r.where("dang").agg(
            (F.coalesce(F.sum("rank"), F.lit(0.0)) / F.lit(float(n))).alias(
                "__dm"
            )
        )
        r_src = r.select(F.col("node").alias("src"), "rank")
        if bcast:
            r_src = F.broadcast(r_src)
        contribs = (
            edges_deg.join(r_src, "src")
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        c_side = contribs.select(F.col("dst").alias("node"), "contrib")
        if bcast:
            # co-partitioned with the pinned node frame (both are
            # hash(node) x ep_edges): the hint picks ShuffledHashJoin,
            # which with matching child partitioning plans NO exchange
            # and NO sort — replacing the old per-round broadcast build
            # of the contribution frame (see the nodes pin above)
            c_side = c_side.hint("shuffle_hash")
        return (
            nodes.join(c_side, "node", "left")
            .crossJoin(F.broadcast(dmf))
            .select(
                "node",
                "dang",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("__dm"))
                ).alias("rank"),
            )
        )

    if tol is None:
        ranks = fixed_rounds(
            ranks,
            lambda frames: _step(frames[-1]),
            n_iter,
            name="pagerank",
            rows=n,
            bcast=bcast,
        )[-1]
    else:

        def _tol_step(r: DataFrame, _) -> tuple[DataFrame, Column]:
            # changed = the nodes that moved by tol or more: zero changed
            # is exactly max |delta rank| < tol
            o_side = r.select("node", F.col("rank").alias("__old"))
            if bcast:
                o_side = F.broadcast(o_side)
            stepped = _step(r).join(o_side, "node")
            return stepped, F.abs(F.col("rank") - F.col("__old")) >= tol

        ranks = converge(
            ranks,
            _tol_step,
            name="pagerank",
            max_iter=n_iter,
            rows=n,
            bcast=bcast,
            raise_at_cap=False,
        )
    edges_deg.unpersist()
    if bcast:
        nodes.unpersist()
    nodes0.unpersist()
    return ranks.select("node", "rank")


def customer_supplier_pagerank(
    lineitem: DataFrame, orders: DataFrame, top: int = 100
) -> DataFrame:
    """PageRank on the bipartite purchase graph: customer -> supplier
    edges from lineitem x orders (who funds whom). Returns the ``top``
    nodes by rank (suppliers ranked by incoming purchase diversity).
    Node ids are namespaced (c<id> / s<id>) so the two key spaces can't
    collide."""
    edges = (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    ranks = pagerank(edges)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("node"))
        .limit(top)
        .select("node", "rank")
    )
