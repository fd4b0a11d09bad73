"""Operator-level physical helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Persisted subtrees registered by operators (ANN indexes, LSH bases,
# candidate sets). A query result is lazy, so the operator itself can't
# unpersist before the consumer materializes; harnesses (bench.py, the
# oracle test suite) call release_tracked() after each materialization so
# cached index state never leaks into the next query's memory budget.
_TRACKED: list[DataFrame] = []

# Returned-frame local checkpoints registered for DEFERRED release. An
# iterative operator's final checkpoint backs the frame it RETURNS, so the
# operator can't free it in-function — and DataFrame.unpersist / CacheManager
# clearCache never free RDD-level checkpoint blocks. Before this registry
# every connected_components / k_core / pagerank / bpe / total_order_ranks
# call leaked one node-sized block set into the session FOREVER, which is
# exactly the dedup_cascade_report "drift": repeated cascade runs in one JVM
# read 5.4 s -> 24 s as leaked blocks ratcheted GC pressure (ROUND9_NOTES
# §cascade). Harnesses call release_tracked() AFTER materializing a query's
# result; at that point the blocks are garbage — on a real long-lived
# session (streaming, notebook, 100 TB batch driver) this is the difference
# between flat and unbounded executor-storage growth.
_TRACKED_CKPTS: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + register for deterministic release via release_tracked()."""
    _TRACKED.append(df.persist())
    return df


def defer_checkpoint_release(df: DataFrame) -> DataFrame:
    """Register a localCheckpoint'ed frame whose blocks must outlive the
    operator (they back its RETURNED frame) for release at the next
    release_tracked(). The frame is UNUSABLE after that release (its
    lineage was truncated) — callers of release_tracked() already promise
    they materialized everything they need."""
    _TRACKED_CKPTS.append(df)
    return df


# Pre-checkpoint plan capture (test-time seam). localCheckpoint replaces a
# frame's plan with a LogicalRDD, which BLINDS every registry-wide plan
# gate (cartesian/BNLJ audit, partitionless-window audit) to the subtree
# the checkpoint materialized — the r9 materialize_input adoption silently
# shrank gate coverage exactly this way (VERDICT r9 wrong#1). When capture
# is on (plan-quality tests only; off in production/bench — a no-op flag
# check), every checkpoint site records the PRE-checkpoint frame so the
# gates can walk the hidden subtree too. Recording holds a DataFrame
# reference only; no extra planning or execution happens until a test
# asks for the frame's plan.
_PRECHK_PLANS: list[DataFrame] = []
_CAPTURE_PRECHK: bool = False


def capture_prechk_plans(on: bool) -> None:
    """Toggle pre-checkpoint plan capture (plan-gate tests only)."""
    global _CAPTURE_PRECHK
    _CAPTURE_PRECHK = on
    if not on:
        _PRECHK_PLANS.clear()


def record_prechk(df: DataFrame) -> DataFrame:
    """Record a frame that is ABOUT to be checkpointed, when capture is on."""
    if _CAPTURE_PRECHK:
        _PRECHK_PLANS.append(df)
    return df


def drain_prechk_plans() -> list[DataFrame]:
    """Return and clear the frames captured since the last drain."""
    out = list(_PRECHK_PLANS)
    _PRECHK_PLANS.clear()
    return out


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """The engine's standard build-time materialization: eager
    localCheckpoint with deferred block release, recording the
    pre-checkpoint plan for the registry-wide plan gates (see
    capture_prechk_plans). Every non-loop checkpoint site must go through
    here (or call record_prechk itself) so checkpoint adoption can never
    silently shrink gate coverage again."""
    record_prechk(df)
    return defer_checkpoint_release(df.localCheckpoint(eager=True))


def release_tracked() -> None:
    """Unpersist every tracked frame (idempotent, exception-safe).

    BLOCKING unpersist, deliberately: the default async release lets
    block removal land in the MIDDLE of the next query, which showed up
    as alternating 4 s / 17 s runs of ann_pq in bench.py (the released
    index cache was being reclaimed while the re-run rebuilt it). Paying
    the removal synchronously keeps cleanup out of every timed or
    user-facing region that follows."""
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(True)
        except Exception:
            pass
    while _TRACKED_CKPTS:
        release_local_checkpoint(_TRACKED_CKPTS.pop())


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition when the input is under-parallelized.

    A single small file (or one gzip member) scans as ONE task no matter
    how many cores the cluster has; operators that multiply work per row
    (shingle explode, per-token hashing, per-pair scoring) must fan rows
    out first or they run single-threaded. No-op when the scan already has
    enough splits — at 100 TB the file count provides the parallelism and
    this inserts no shuffle.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks behind a localCheckpoint'ed frame.

    ``DataFrame.unpersist()`` is a NO-OP for local checkpoints: it talks
    to the SQL CacheManager, while localCheckpoint pins its blocks at
    the RDD level (verified: getRDDStorageInfo still lists the blocks
    after df.unpersist()). Iterative operators (pagerank, k-core, LPA)
    chain one checkpoint per round, so without RDD-level release a long
    shared-JVM session accumulates n_rounds node-sized block sets per
    call. This walks to the LogicalRDD under the analyzed plan and
    unpersists the actual RDD — the frame is UNUSABLE afterwards (its
    lineage was truncated), so only call it on intermediates that are
    provably no longer referenced.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        # walk to the LEAVES, not just the root: a checkpoint wrapped in a
        # later coalesce()/select() presents Repartition/Project at the
        # top and the LogicalRDD underneath (k_core's initial degree frame
        # leaked exactly this way — found r9 by the zero-blocks-after-
        # release audit). Every LogicalRDD under a provably-dead frame is
        # dead with it; unpersist on a non-persisted RDD is a no-op.
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getName().endswith("LogicalRDD"):
                leaf.rdd().unpersist(False)
    except Exception:  # pragma: no cover - best-effort cleanup
        pass
