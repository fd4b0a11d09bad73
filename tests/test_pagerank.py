"""PageRank gates: the distributed loop must reproduce an independent
NumPy power iteration exactly (same synchronous update, dangling
redistribution, and teleport), conserve total mass, and keep its
per-round plan O(1) via checkpoint truncation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.pagerank import pagerank

# a graph with a hub, a cycle, a dangling node (5) and a disconnected
# pair (6->7) — exercises every mass path
EDGES = [
    (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (4, 2), (2, 5),
    (6, 7),
]
DAMPING = 0.85
N_ITER = 10


def _numpy_pagerank(edges, n_iter=N_ITER, d=DAMPING, tol=None):
    """Independent reference with the IDENTICAL update and stopping rule
    as operators/pagerank.pagerank (fixed count, or max|Δ| < tol)."""
    nodes = sorted({u for e in edges for u in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    rounds = 0
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / out_deg[idx[s]]
        dangling = r[out_deg == 0].sum() / n
        new_r = (1.0 - d) / n + d * (contrib + dangling)
        delta = np.abs(new_r - r).max()
        r = new_r
        rounds += 1
        if tol is not None and delta < tol:
            break
    return {v: r[idx[v]] for v in nodes}, rounds


@pytest.fixture(scope="module")
def ranks(spark):
    edges = spark.createDataFrame(EDGES, ["src", "dst"])
    return {r["node"]: r["rank"] for r in pagerank(edges).collect()}


def test_pagerank_matches_numpy(ranks):
    expected, _ = _numpy_pagerank(EDGES)
    assert set(ranks) == set(expected)
    for v, exp in expected.items():
        assert ranks[v] == pytest.approx(exp, abs=1e-12), f"node {v}"


def test_pagerank_tol_early_exit(spark):
    """A directed 4-cycle's fixpoint IS the uniform init, so round 1's
    delta is 0 and the tol exit must fire immediately — with the result
    matching a NumPy run under the same stopping rule."""
    from pipeline_pyspark_etl_imdb_spark.operators.loop import last_rounds

    cycle = [(0, 1), (1, 2), (2, 3), (3, 0)]
    edges = spark.createDataFrame(cycle, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=10, tol=1e-9).collect()}
    expected, np_rounds = _numpy_pagerank(cycle, n_iter=10, tol=1e-9)
    assert last_rounds["pagerank"] == np_rounds == 1
    for v, exp in expected.items():
        assert got[v] == pytest.approx(exp, abs=1e-12), f"node {v}"


def test_pagerank_fixed_count_ignores_tol_none(spark):
    """tol=None (the default and the fixture query's mode) runs all
    n_iter rounds even on an instantly-converged graph."""
    from pipeline_pyspark_etl_imdb_spark.operators.loop import last_rounds

    cycle = [(0, 1), (1, 2), (2, 0)]
    edges = spark.createDataFrame(cycle, ["src", "dst"])
    pagerank(edges, n_iter=3).collect()
    assert last_rounds["pagerank"] == 3


def test_pagerank_mass_conserved(ranks):
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_orders_hub_first(ranks):
    # node 2 receives from 0,1,3,4 — must outrank every other node
    assert ranks[2] == max(ranks.values())


def test_iterative_loops_release_checkpoint_blocks(spark):
    """Regression (ADVICE r4): DataFrame.unpersist is a no-op on
    localCheckpoint blocks (they are RDD-level), so the fixed-count
    pagerank/LPA loops used to leave every round's node-sized block set
    cached for the life of the JVM. After a run, at most ONE checkpoint
    frame per loop (the returned one, plus k-core's initial degree
    frame) may remain in storage."""
    from pyspark.sql import functions as F

    from pipeline_pyspark_etl_imdb_spark.operators.pagerank import pagerank

    sc = spark.sparkContext
    def n_blocks():
        return len(sc._jsc.sc().getRDDStorageInfo())

    spark.catalog.clearCache()
    base = n_blocks()
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], "src long, dst long"
    )
    ranks = pagerank(edges, n_iter=8)
    ranks.count()
    leaked = n_blocks() - base
    assert leaked <= 1, f"pagerank leaked {leaked} checkpoint block sets"
