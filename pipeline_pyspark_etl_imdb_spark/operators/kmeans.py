"""Lloyd's k-means on DataFrames — the third iterative-algorithm shape.

Connected components propagates a MIN label, PageRank a weighted mass;
k-means iterates FLOAT CENTROIDS: broadcast-assign, groupBy-update. It's
the clustering step behind SemDeDup-style semantic dedup and
diversity-balanced sampling over an embedded corpus (public method:
Abbas et al. 2023), and the training loop real IVF indexes run once at
build time (operators/similarity.ivf_index uses the 0-iteration
hash-pick variant; this is the same physical shape iterated).

Physical shape per iteration (the one that survives 100 TB):
- assignment: Arrow-batched vectorized argmin against the k x dim
  centroid matrix captured in the UDF closure (the model state lives
  on the driver between rounds, MLlib-style) — map only, ZERO shuffle;
- update: ONE partial-aggregated groupBy(cluster) with a per-dimension
  sum battery (element_at, map-side combine) — the shuffle carries k
  rows x (dim+1) columns, nothing corpus-sized moves and there is no
  (cluster, dim) posexplode shuffle;
- no lineage maintenance: each round's plan is rebuilt from the scan +
  literals, so there is nothing to checkpoint (the CC/PageRank loops
  checkpoint because their state is a DataFrame; this one's state is
  k x dim driver floats).

Determinism: init is an md5-ordered top-k pick (no RNG); the only
nondeterminism is float-mean summation order (last-ulp). That spread is
~1e-13 relative, and the argmin assignment margin was MEASURED at
>= 8.5e-7 relative on every fixture (min over points x rounds of the
gap between the two nearest centroids) — 5+ orders above it — so the
integer (vec_id, cluster) output is engine-stable and the registry
exposure is a full hash-match oracle (plans/oracles._kmeans_assign_cte,
unrolled Lloyd rounds as MATERIALIZED CTEs, the supplier_pagerank
discipline). tests/test_kmeans.py additionally pins assignments and
centroids against an independent NumPy Lloyd's run from the same init.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.util import fan_out


def seed_centroids(
    embeddings: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic seed centroids: the min(n, k) corpus vectors with the
    smallest md5(id || ':kmeans') values, renumbered 0..k-1 in id order.

    orderBy + limit compiles to TakeOrderedAndProject — per-partition
    top-k then a driver-side merge of k rows, no global sort, no Exchange
    of the corpus (same shape as corpus.global_hash_sample). Guarantees
    EXACTLY min(n, k) seeds; the previous mod-stride filter made the
    survivor count a Binomial draw with mean ~k, which silently under-
    seeded on roughly half of possible corpora. The renumbering window is
    partition-less but sees only the k survivors."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":kmeans")))
    picked = (
        embeddings.select(F.col(id_col), F.col(vec_col), h.alias("__h"))
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col(id_col).asc())
    return (
        picked.withColumn("__rn", F.row_number().over(w))
        .select(
            (F.col("__rn") - 1).alias("cluster"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
        )
    )


# backward-compatible alias (the guaranteed-count pick replaced the
# binomial mod-stride pick; same signature and output contract)
stride_init_centroids = seed_centroids


def centroid_update(assigned: DataFrame, dim: int) -> DataFrame:
    """Per-cluster centroid means as ONE partial-aggregated groupBy whose
    shuffle carries k rows x (dim+1) columns: a per-dimension sum battery
    over element_at plus a count, divided back into an array. No
    (cluster, dim) posexplode — the explode shape shuffles n*dim rows and
    adds a second aggregation; this shape's map-side combine collapses
    everything to k rows per partition before the wire (plan-gated in
    tests/test_kmeans.py)."""
    sum_cols = [F.sum(F.element_at("v", i + 1)).alias(f"__s{i}") for i in range(dim)]
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("__n"), *sum_cols)
        .select(
            "cluster",
            F.array(*[F.col(f"__s{i}") / F.col("__n") for i in range(dim)]).alias(
                "centroid"
            ),
        )
    )


# rows per NumPy chunk inside the assignment UDF: bounds the (chunk, k,
# dim) distance intermediate (1024 rows x k=16 x dim=64 x 8 B = 8 MB)
# without changing any per-row result
_ASSIGN_CHUNK_ROWS = 1024


def _assign_udf(cents_matrix):
    """Arrow-batched argmin against a closure-captured (k, dim) centroid
    matrix. The squared-distance formula and tie-break (argmin -> lowest
    cluster id) are bit-identical to the NumPy reference in
    tests/test_kmeans.py. A Pandas UDF is the deliberate choice here:
    per-element distance math through Catalyst's higher-order functions
    evaluates interpreted (boxed lambda per element, ~100x slower than
    this vectorized kernel), and the JVM-side alternatives either shuffle
    the corpus per round (groupBy argmin) or recompile codegen per round
    (literal centroids). Chunking bounds peak memory; results don't
    depend on the chunk split."""
    from pyspark.sql.functions import pandas_udf

    C = cents_matrix

    @pandas_udf("struct<cluster:int, sq_dist:double>")
    def f(v: pd.Series) -> pd.DataFrame:
        out_cluster = np.empty(len(v), dtype=np.int32)
        out_dist = np.empty(len(v), dtype=np.float64)
        arrs = v.to_numpy()
        for lo in range(0, len(v), _ASSIGN_CHUNK_ROWS):
            hi = min(lo + _ASSIGN_CHUNK_ROWS, len(v))
            X = np.stack(arrs[lo:hi]).astype(np.float64)
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            out_cluster[lo:hi] = a
            out_dist[lo:hi] = d[np.arange(hi - lo), a]
        return pd.DataFrame({"cluster": out_cluster, "sq_dist": out_dist})

    return f


def _round_partials_udf(cents_matrix):
    """Fused per-round kernel: assign AND partially aggregate in ONE
    Arrow pass — per input partition, yield at most k rows of
    (cluster, n, sumvec). The separate assignment projection + 64-column
    sum battery cost ~0.65 s of Catalyst ANALYSIS per round (129
    re-planned expressions, since the centroid literals change every
    round); this single mapInPandas node re-plans in milliseconds and
    runs the identical arithmetic. The partial frame is <= k rows per
    partition — the same bytes the battery's map-side combine put on the
    wire."""
    C = cents_matrix

    def f(batches):
        k, dim = C.shape
        sums = np.zeros((k, dim), dtype=np.float64)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            arrs = pdf["v"].to_numpy()
            for lo in range(0, len(arrs), _ASSIGN_CHUNK_ROWS):
                hi = min(lo + _ASSIGN_CHUNK_ROWS, len(arrs))
                X = np.stack(arrs[lo:hi]).astype(np.float64)
                d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = d.argmin(axis=1)
                # per-cluster running sums in ascending-row order (same
                # association as the battery's per-partition combine)
                np.add.at(sums, a, X)
                np.add.at(counts, a, 1)
        live = counts > 0
        if live.any():
            yield pd.DataFrame(
                {
                    "cluster": np.arange(k, dtype=np.int32)[live],
                    "n": counts[live],
                    "s": list(sums[live]),
                }
            )

    return f


def lloyd_kmeans(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(assignments, centroids) after ``n_iter`` synchronous Lloyd
    rounds. assignments = (id, cluster, sq_dist); centroids = (cluster,
    centroid array). Ties in the argmin break toward the lower cluster
    id (deterministic).

    The centroid state (k x dim floats) lives on the DRIVER between
    rounds — the canonical MLlib loop. This is bounded model state, not
    data (k=16, dim=64 -> 1 KB/round): collecting it is the same class
    of driver-side metadata as the file-skipping manifest, and it buys
    the scale-critical plan: each round is ONE fused map-only Arrow pass
    (argmin + per-partition partial sums, _round_partials_udf) whose
    output is <= k rows per partition; the k x n_partitions partials
    shuffle once on the cluster key and merge in an applyInPandas over k
    groups — nothing corpus-sized moves, and nothing data-sized reaches
    the driver. (The earlier shape — a separate assignment projection
    feeding a 64-column sum-battery aggregate — moved the same bytes but
    paid ~0.65 s of Catalyst re-analysis per round because the centroid
    literals change every round; see also _assign_udf for why these
    kernels are Pandas UDFs rather than Catalyst higher-order
    functions.)"""
    # NULL embeddings never participate (the semdedup_flags contract):
    # both the seed pick and the assignment kernel would throw on None
    embeddings = embeddings.where(F.col(vec_col).isNotNull())
    emb = fan_out(embeddings).select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).persist()
    # Seed from the CACHED frame, not the caller's plan (r10): the seed
    # pick's TakeOrdered is the call's first action, so it materializes
    # the persisted emb — OUTSIDE the narrowed loop-conf window below
    # (ADVICE r9: emb's first materialization used to happen at round 1,
    # compiling any caller-side upstream exchanges at width ~2 with AQE
    # off) — and the caller's subtree now evaluates ONCE instead of
    # twice (seed pass + round-1 pass). The pick itself is unchanged:
    # it orders by md5(id), never by vector values, and emb's
    # double-cast is the cast seed_centroids applied anyway.
    seed_rows = seed_centroids(
        emb.select(F.col(id_col), F.col("v").alias(vec_col)), k, id_col, vec_col
    ).collect()
    cents: dict[int, list[float]] = {
        r.cluster: [float(x) for x in r.centroid] for r in seed_rows
    }
    spark = embeddings.sparkSession
    if not cents:
        # empty corpus: no seeds exist, so there is nothing to iterate —
        # zero assignment rows (schema from the empty input frame) and
        # zero centroids, matching the oracle's empty seed/af CTEs
        out = emb.select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("sq_dist"),
        )
        emb.unpersist()
        return out, spark.createDataFrame(
            [], "cluster int, centroid array<double>"
        )

    def _matrix(c: dict[int, list[float]]):
        # cluster ids are always exactly 0..k-1 (seeding numbers them,
        # the update only rewrites existing keys): row index == cluster id
        return np.stack([np.array(vec) for _, vec in sorted(c.items())])

    def _merge(key, pdf):
        S = np.stack(pdf["s"].to_numpy()).sum(axis=0)
        n = int(pdf["n"].sum())
        return pd.DataFrame(
            {"cluster": [key[0]], "centroid": [(S / n).tolist()]}
        )

    # loop conf window (r9): each round's shuffle carries <= k rows per
    # input partition — model-sized, data-independent — so the narrow
    # width + paused AQE remove per-round stage-job latency (see
    # loop.iterative_loop_conf)
    from pipeline_pyspark_etl_imdb_spark.operators.loop import (
        iterative_loop_conf,
    )

    with iterative_loop_conf(spark, k, bcast=True):
        for _ in range(n_iter):
            partials = emb.select("v").mapInPandas(
                _round_partials_udf(_matrix(cents)),
                schema="cluster int, n long, s array<double>",
            )
            stats = (
                partials.groupBy("cluster")
                .applyInPandas(_merge, schema="cluster int, centroid array<double>")
                .collect()
            )
            # clusters that lost every member keep their previous centroid
            for r in stats:
                cents[r.cluster] = [float(x) for x in r.centroid]

    best = _assign_udf(_matrix(cents))(F.col("v"))
    out = emb.select(
        F.col(id_col),
        best["cluster"].alias("cluster"),
        best["sq_dist"].alias("sq_dist"),
    )
    emb.unpersist()
    return out, spark.createDataFrame(
        sorted(cents.items()), "cluster int, centroid array<double>"
    )
