"""The returned-checkpoint release contract (found r9, SCALE.md).

Iterative operators return frames backed by their FINAL localCheckpoint;
those RDD-level blocks are invisible to unpersist/clearCache, so without
deferred release every call leaked one node-sized block set into the
session forever — measured as the dedup cascade degrading 5.4 s -> 24+ s
across same-JVM runs. These tests pin the contract: after the caller
materializes and the harness calls release_tracked(), RDD storage is
EMPTY, and a fresh run of the same query still produces identical
results (nothing live was released)."""

from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.components import (
    bfs_hops,
    bfs_label_budget,
    connected_components,
    label_propagation,
    sssp_bounded,
)
from pipeline_pyspark_etl_imdb_spark.operators.kcore import k_core
from pipeline_pyspark_etl_imdb_spark.operators.loop import last_rounds
from pipeline_pyspark_etl_imdb_spark.operators.pagerank import pagerank
from pipeline_pyspark_etl_imdb_spark.operators.util import release_tracked


def _n_blocks(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _edges(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (2, 5), (5, 6), (1, 7), (10, 11), (11, 12)]
    return spark.createDataFrame(pairs, "src long, dst long")


def test_iterative_operators_leave_zero_blocks_after_release(spark):
    spark.catalog.clearCache()
    release_tracked()
    # shared-session robustness: assert relative to whatever an earlier
    # test left behind (0 on a fresh session)
    baseline = _n_blocks(spark)
    runs = {
        "cc": lambda: connected_components(
            _edges(spark), "src", "dst"
        ).collect(),
        "kcore": lambda: k_core(_edges(spark), k=2).collect(),
        "bfs": lambda: bfs_hops(_edges(spark), max_hops=3).collect(),
        "sssp": lambda: sssp_bounded(
            _edges(spark).select("src", "dst", F.lit(2).alias("w")), n_rounds=3
        ).collect(),
        "lpa": lambda: label_propagation(_edges(spark), n_iter=3).collect(),
        "label_bfs": lambda: bfs_label_budget(
            _edges(spark).select(
                "src", "dst", (F.col("src") % 2).cast("int").alias("is_weak")
            ),
            max_weak=1,
            max_hops=3,
        ).collect(),
        "pagerank": lambda: pagerank(_edges(spark), n_iter=4).collect(),
        "pagerank_tol": lambda: pagerank(
            _edges(spark), n_iter=20, tol=1e-3
        ).collect(),
    }
    for name, run in runs.items():
        first = run()
        release_tracked()
        spark.catalog.clearCache()
        assert _n_blocks(spark) == baseline, (
            f"{name}: {_n_blocks(spark) - baseline} RDD block set(s) "
            "survived release_tracked() — a returned checkpoint is not "
            "registered for deferred release (or release misses a wrapped "
            "LogicalRDD)"
        )
        second = run()
        release_tracked()
        spark.catalog.clearCache()
        assert sorted(map(tuple, first)) == sorted(map(tuple, second)), (
            f"{name}: post-release re-run diverged — something LIVE was "
            "released"
        )


def _py_peel_depth(pairs, k):
    """Rounds of the synchronous k-core peel until no node is below k."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rounds = 0
    while True:
        low = {v for v, nb in adj.items() if len(nb) < k}
        if not low:
            return rounds, set(adj)
        rounds += 1
        adj = {v: nb - low for v, nb in adj.items() if v not in low}


def test_round_record_counts_loop_rounds(spark):
    """The loop driver's round record: min-label CC on a 6-node path needs
    one changing round per remaining hop plus the round that changes
    nothing (n - 1 with the fused first hop); k-core records its peel
    depth."""
    path = [(i, i + 1) for i in range(1, 6)]
    connected_components(
        spark.createDataFrame(path, "src long, dst long"), "src", "dst"
    ).collect()
    assert last_rounds["connected_components"] == 5

    tail = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    core = k_core(spark.createDataFrame(tail, "src long, dst long"), k=2)
    depth, nodes = _py_peel_depth(tail, 2)
    assert {r.node for r in core.collect()} == nodes == {1, 2, 3}
    assert last_rounds["k_core"] == depth == 2
    release_tracked()
