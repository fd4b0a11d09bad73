"""The shared graph-loop driver.

Every driver-controlled graph loop of the engine — connected components,
label propagation, BFS, SSSP, label-budget BFS, k-core and PageRank — is
a per-round step function wrapped in the same skeleton: symmetrize the
edge list in one pass, size partitions from the measured frame, pin the
adjacency, open the loop-state conf window, checkpoint every round
through ``record_prechk``, release what no longer backs the result, cap
the round count. The skeleton lives here once; the operators keep their
step functions and their operator-specific setup.

Rounds come in two shapes:

- ``fixed_rounds``: a fixed count of LAZY checkpoints, materialized by
  one action at the end (LPA, BFS, SSSP, label-budget BFS, PageRank);
- ``converge``: one EAGER checkpoint per round with an observed
  changed-count, stopping at zero (CC, k-core, PageRank with ``tol``).
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.util import (
    defer_checkpoint_release,
    record_prechk,
    release_local_checkpoint,
)

# Rounds run by the most recent call of each loop, keyed by loop name
# ("connected_components", "k_core", "pagerank", "exact_kth", ...): lets
# tests assert round counts without changing any return type.
last_rounds: dict[str, int] = {}


def _width(spark: SparkSession, rows: int, rows_per_part: int, floor: int) -> int:
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(floor, min(shuffle_n, rows // rows_per_part + 1))


def edge_partitions(spark: SparkSession, m: int) -> int:
    """Partitions for an ``m``-row edge frame: sized by row volume
    (~200k rows each, at least 4 for local parallelism) instead of
    inheriting the session's shuffle width, which caps it — so a small
    graph's per-round stages don't pay shuffle_n task launches, and at
    real scale the layout is the session's."""
    return _width(spark, m, 200_000, 4)


def node_partitions(spark: SparkSession, n: int) -> int:
    """Partitions for an ``n``-row node-domain frame (~100k rows each,
    at least 1, capped at the session's shuffle width)."""
    return _width(spark, n, 100_000, 1)


@contextmanager
def iterative_loop_conf(spark: SparkSession, n_rows: int, *, bcast: bool):
    """Size the shuffle width to the LOOP-STATE frame (and pause AQE)
    while a driver-controlled iterative loop builds and materializes its
    round plans — restore on exit.

    Iterative operators run R rounds whose per-round frames are
    NODE-DOMAIN-sized, orders of magnitude smaller than the data the
    session's shuffle width was sized for. Two fixed costs then dominate
    every round:

    - each in-loop Exchange at the session width launches shuffle_n
      tasks to move a few-MB frame (task dispatch, not data);
    - AQE materializes every such Exchange as its OWN query-stage job —
      R rounds x stages/round of scheduling latency — to re-plan
      single-digit-MB exchanges whose size is already known by
      construction.

    Inside the window the width comes from the measured loop-state row
    count (``max(2, min(session_width, n_rows // 100_000 + 1))``) and AQE
    is off. Measured at sf0.1: copurchase_sssp 6.1-6.5 s -> 2.5-2.9 s,
    copurchase_bfs_hops 3.4-3.8 s -> 2.2-2.5 s, copurchase_communities
    ~4 s -> ~2.3-2.5 s.

    SCALE GUARD: the window only narrows under ``bcast=True`` — the same
    broadcast-budget predicate the loop joins use — so it engages exactly
    when the loop state is provably bounded (n <= broadcast_max_nodes,
    i.e. tens of MB at most); the formula saturates to the session width
    as n grows. In the shuffle-fallback regime (billion-node graphs) the
    window is a no-op: AQE (skew splitting, runtime re-planning) and the
    full session width stay in force. This is data-proportional sizing,
    not a local-mode constant: on a cluster a 20k-node loop gets the
    same narrow width, and a 2M-node loop the session's.

    The conf changes are session-scoped for the window's duration —
    callers are the engine's single-threaded operator constructors, and
    every frame the operator RETURNS is checkpoint-materialized inside
    the window, so no outer plan compiles against the narrowed conf.
    """
    if not bcast:
        yield
        return
    shuffle_n = spark.conf.get("spark.sql.shuffle.partitions")
    width = _width(spark, n_rows, 100_000, 2)
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_n)


def symmetrize(
    edges: DataFrame,
    src: str,
    dst: str,
    a: str = "a",
    b: str = "b",
    **extra: Column,
) -> DataFrame:
    """Both orientations of every edge as ``(a, b, *extra)`` from ONE
    evaluation of ``edges``. The edge list is usually an expensive
    candidate-pair subtree (LSH/shingle self-join), and a union of two
    projections would execute that subtree twice; explode emits both
    rows from a single pass. ``extra`` columns ride along unchanged on
    both orientations; duplicates are kept."""
    rest = [col.alias(name) for name, col in extra.items()]
    both = F.array(
        F.struct(F.col(src).alias(a), F.col(dst).alias(b), *rest),
        F.struct(F.col(dst).alias(a), F.col(src).alias(b), *rest),
    )
    return edges.select(F.explode(both).alias("__e")).select("__e.*")


def pinned_adjacency(
    sym: DataFrame, key: str, budget: int, states_per_node: int = 1
) -> tuple[DataFrame, int, bool]:
    """Setup of the frontier and vote loops over a symmetrized
    ``(node, nbr, ...)`` frame: persist it, read (n, m) in ONE fused
    aggregate job, pin a copy hash-partitioned on ``key`` at the
    edge-proportional width, materialize the copy and drop the unpinned
    one — the caller's edge subtree runs once. Returns (pinned, rows,
    bcast): ``rows`` = n x states_per_node bounds the loop-state frame,
    and ``bcast`` says it fits the broadcast budget, so the per-round
    joins broadcast the state side and the edge partitions never move."""
    sym = sym.persist()
    row = sym.agg(
        F.countDistinct("node").alias("n"), F.count("*").alias("m")
    ).collect()[0]
    adj = sym.repartition(edge_partitions(sym.sparkSession, int(row["m"])), key)
    adj = adj.persist()
    adj.count()
    sym.unpersist()
    rows = int(row["n"]) * states_per_node
    return adj, rows, rows <= budget


def seed_nodes(adj: DataFrame, seeds: DataFrame | None) -> DataFrame:
    """A loop's start set as a distinct 1-column (node) frame — never a
    collected driver value. None seeds the minimum node id, filtered
    because the 1-row min aggregate yields (NULL) on an EMPTY graph,
    which must give zero rows, not a phantom start row. Caller seeds are
    deduplicated (a duplicate would emit duplicate start rows); ids
    absent from the graph are kept and start with no neighbors, the
    standard multi-source contract for isolated sources."""
    if seeds is None:
        return adj.agg(F.min("node").alias("node")).where(
            F.col("node").isNotNull()
        )
    return seeds.select("node").distinct()


def fixed_rounds(
    first: DataFrame,
    step: Callable[[list[DataFrame]], DataFrame],
    n_rounds: int,
    *,
    name: str,
    rows: int,
    bcast: bool,
    keep_all: bool = False,
) -> list[DataFrame]:
    """Fixed-count lazy chain. Round i is
    ``record_prechk(step(frames)).localCheckpoint(eager=False)``, where
    ``frames`` holds rounds 0 (``first``) to i-1. Each checkpoint
    truncates lineage, so round N's plan stays O(1), and no round runs an
    action of its own: ONE count of the last frame materializes the whole
    chain (every earlier round is in its lineage) inside the conf window,
    and so before the caller releases the caches the rounds read.

    ``keep_all=False``: only the last frame backs the result; every
    earlier round's blocks are released here and the last one's at the
    next release_tracked(). ``keep_all=True`` (frontier loops, whose
    result reads every round): round 0 is checkpointed like the others,
    since its lineage reaches the caller's edge subtree through the
    adjacency, and every round is released at the next release_tracked().
    Returns the frames, round 0 first."""

    def checkpoint(df: DataFrame) -> DataFrame:
        return record_prechk(df).localCheckpoint(eager=False)

    with iterative_loop_conf(first.sparkSession, rows, bcast=bcast):
        frames = [checkpoint(first) if keep_all else first]
        for _ in range(n_rounds):
            frames.append(checkpoint(step(frames)))
        frames[-1].count()
    last_rounds[name] = n_rounds
    # checkpoint blocks are RDD-level: DataFrame.unpersist can't free them
    if keep_all:
        for df in frames:
            defer_checkpoint_release(df)
    elif n_rounds:
        for df in frames[1:-1]:
            release_local_checkpoint(df)
        defer_checkpoint_release(frames[-1])
    return frames


def converge(
    first: DataFrame,
    step: Callable[[DataFrame, int | None], tuple[DataFrame, Column]],
    *,
    name: str,
    max_iter: int,
    changed: int | None = None,
    rows: int = 0,
    bcast: bool = False,
    raise_at_cap: bool = True,
) -> DataFrame:
    """Convergence loop. ``step(prev, n_prev)`` returns the next round's
    frame and a boolean "changed" Column over it; the round is an EAGER
    localCheckpoint whose count of changed rows is an observed metric,
    gathered by CollectMetricsExec during the checkpoint's own job — the
    convergence test costs zero extra jobs. ``n_prev`` is the previous
    round's count (``changed`` for ``first``: None when unknown, and 0
    returns ``first`` without a round).

    After each round the previous frame is released: ``first`` (the
    caller's frame) is only unpersisted, the driver's own checkpoints are
    freed at the RDD level. The loop stops when a round changes nothing;
    the final checkpoint backs the returned frame and is released at the
    next release_tracked(). No fixpoint within ``max_iter`` rounds raises
    RuntimeError, or with ``raise_at_cap=False`` returns the last frame."""
    frame, n = first, changed
    last_rounds[name] = 0
    with iterative_loop_conf(first.sparkSession, rows, bcast=bcast):
        while n != 0 and last_rounds[name] < max_iter:
            out, flag = step(frame, n)
            obs = Observation()
            nxt = record_prechk(
                out.observe(obs, F.count_if(flag).alias("n_changed"))
            ).localCheckpoint(eager=True)
            n = int(obs.get["n_changed"])
            if frame is first:
                first.unpersist()
            else:
                release_local_checkpoint(frame)
            frame = nxt
            last_rounds[name] += 1
    if frame is not first:
        defer_checkpoint_release(frame)
    if n != 0 and raise_at_cap:
        raise RuntimeError(f"{name}: no fixpoint in {max_iter} iterations")
    return frame
