"""k-core decomposition — the degeneracy peel over a pair list.

The k-core of a graph is the maximal subgraph in which every node has
degree >= k (Seidman 1983); it is the standard structural filter for
"dense enough to matter" — spam farms, co-purchase cliques, boilerplate
hubs — and the complement of the degree-cap trick used elsewhere in this
repo (triangles.cooccurrence_edges drops hot nodes; k_core KEEPS only the
mutually-dense region).

Algorithm: iterative peel. Each round computes degrees with ONE
partially-aggregated groupBy over the (symmetrized, persisted) edge list
and drops nodes below k; peeling one node can drag neighbors below k, so
the loop repeats to fixpoint — O(peel depth) rounds, each one shuffle of
(node, degree) pairs (8-16 bytes per live node, never edge payloads).
Same driver-controlled loop contract as components.connected_components:
persist the live-node frontier, localCheckpoint to truncate lineage,
hard iteration cap as a guardrail.

Not SQL-oracle-expressible (recursive CTEs cannot aggregate in the
recursive term), so the registry query is rows-only; tests pin the
operator against a pure-Python peel on the same fixture graph.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.loop import (
    converge,
    node_partitions,
    symmetrize,
)
from pipeline_pyspark_etl_imdb_spark.operators.util import tracked_persist


def k_core(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    max_iter: int = 50,
    edges_distinct: bool = False,
) -> DataFrame:
    """(node, degree) for every node of the k-core, ordered degree DESC
    then node ASC; degree is the node's degree WITHIN the core. Empty
    result when no k-core exists. Raises if not converged in ``max_iter``
    rounds (each round removes at least one node, so max_iter bounds the
    peel depth, not the node count).

    ``edges_distinct=True`` lets a caller that already guarantees
    distinct undirected pairs (e.g. triangles.cooccurrence_edges, which
    emits each a<b pair once) skip the symmetrize-dedup shuffle — the
    two emitted orientations of distinct pairs are distinct by
    construction."""
    sym = symmetrize(edges, src_col, dst_col)
    if not edges_distinct:
        sym = sym.distinct()
    sym = sym.repartition(F.col("a")).persist()
    # INCREMENTAL peel — iterate degrees, never edges: degrees aggregate
    # once from the pinned edge list; each later round subtracts only the
    # contributions of the nodes peeled THAT round (one broadcast join of
    # edges against the tiny peeled list + a left join onto the
    # node-domain degree frame). Nothing edge-sized is ever rewritten:
    # edges are re-touched only where they meet a peeled node (~peel-front
    # x degree rows a round). The materialized per-round state is the
    # degree frame — node-domain-sized, the natural checkpoint unit. Size
    # guard: a pathological peel front larger than broadcast_max_nodes
    # falls back to a shuffle join — still linear in touched edges.
    broadcast_max_nodes = 10_000_000
    try:
        deg0 = tracked_persist(
            sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("degree"))
        )
        # ONE job materializes the degree frame and reads both the node
        # count (sizes the loop) and the first peel front
        row = deg0.agg(
            F.count("*").alias("n"), F.count_if(F.col("degree") < k).alias("below")
        ).collect()[0]
        n_nodes = int(row["n"])
        # frame-proportional partitioning: the degree frame is
        # node-domain-sized (8-16 B rows); coalescing every round's degree
        # frame by row volume keeps the peel's many small stages from
        # paying shuffle_n task launches each
        np_deg = node_partitions(edges.sparkSession, n_nodes)

        def _peel(deg: DataFrame, n_peeled: int) -> tuple[DataFrame, Column]:
            deg = deg.coalesce(np_deg)
            keep = deg.where(F.col("degree") >= k)
            peeled = deg.where(F.col("degree") < k).select("node")
            if n_peeled <= broadcast_max_nodes:
                peeled = F.broadcast(peeled)
            delta = (
                sym.join(peeled, sym.a == peeled.node)
                .groupBy(F.col("b").alias("node"))
                .agg(F.count("*").alias("__d"))
            )
            out = (
                keep.join(delta, "node", "left")
                .select(
                    "node",
                    (
                        F.col("degree") - F.coalesce(F.col("__d"), F.lit(0))
                    ).alias("degree"),
                )
                .coalesce(np_deg)
            )
            return out, F.col("degree") < k

        core = converge(
            deg0,
            _peel,
            name="k_core",
            max_iter=max_iter,
            changed=int(row["below"]),
            rows=n_nodes,
            bcast=n_nodes <= broadcast_max_nodes,
        )
        return core.orderBy(F.desc("degree"), F.asc("node"))
    finally:
        sym.unpersist()
