"""Distributed EXACT order statistics by iterative histogram narrowing —
the seventh iterative-algorithm shape: driver-held integer BOUNDS.

Spark's exact ``percentile()`` aggregate buffers every value of a group
in executor memory (OpenHashMap of counts) — fine for the fixture-sized
groups the registry's percentile queries aggregate, a scale bug for an
exact global median over 10^11 rows. approx_percentile bounds memory but
surrenders exactness. The classic third way (distributed selection /
"median of a billion numbers"): narrow an integer value range around the
k-th order statistic with a wide (N_BUCKETS-ary) histogram per round —

    round := one partially-aggregated conditional groupBy producing
             <= N_BUCKETS (bucket, count) rows; the driver walks the prefix
             sums, picks the bucket containing rank k, rescales k to the
             bucket, and recurses into its sub-range.

O(log_N range) rounds (3 at N_BUCKETS=4096 for cent-priced values), each a
full scan with the BETWEEN range pushed down to the parquet reader (so
later rounds touch only row groups whose min/max straddle the narrowed
range — the scan itself shrinks as the range does). Driver state is two
integers; nothing value-sized ever concentrates on one node, unlike a
global sort (Exchange of the corpus) or percentile() (per-group value
buffer).

Works on any integer-mappable domain; prices carry 2 decimals, so
round(x*100) cents are BIGINT-exact and the whole walk is deterministic —
the registry query hash-matches the oracle's ORDER BY/OFFSET definition
bit for bit. Bucket indexes use integer `div`, never double division —
past 2^53 the float quotient mis-buckets boundary values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.loop import (
    iterative_loop_conf,
    last_rounds,
)
from pipeline_pyspark_etl_imdb_spark.operators.util import eager_checkpoint

# 4096-ary narrowing: a cents-scaled price range (~5e9) resolves in 3
# rounds instead of 5 at 256-ary, and the per-round driver collect is
# still only groups x 4096 rows — job-scheduling latency, not histogram
# size, is what each extra round costs
N_BUCKETS = 4096

# Local-finish stage: once the rows REMAINING IN RANGE for a target drop
# to this bound, one (value, count) collect over the range resolves the
# rank exactly — replacing every remaining histogram round with a single
# job whose result is provably <= FINISH_ROWS rows. After one 4096-ary
# round the surviving bucket holds ~n/4096 rows, so a 10^11-row walk
# local-finishes after round 2 and a 10^6-row walk after round 1; the
# driver-state contract stays O(1) in the data (two integers per target
# during the walk, plus at most FINISH_ROWS value-counts in the one
# final stage).
FINISH_ROWS = 4096


_I64_MAX = 2**63 - 1


def _pin_if_shuffle_upstream(df: DataFrame) -> DataFrame:
    """The narrowing walk re-executes ``df``'s plan every round INSIDE
    the narrowed conf window (width ~2, AQE paused). For the registry's
    callers ``df`` is a scan-level projection, and re-scanning is the
    DESIGN — each round's BETWEEN pushes down so the parquet scan itself
    shrinks. But a ``df`` whose own plan contains a shuffle Exchange
    (an upstream join or aggregation) would re-run that exchange at the
    window's narrow width with AQE's skew handling off, every round — the
    scale hazard ADVICE r9 flagged. Pin exactly those plans with ONE
    eager checkpoint, outside the window; broadcast-only joins stream
    map-side and need no pin.

    The test walks the PREPARED physical plan's node tree (under AQE its
    initial plan, which already holds the exchanges EnsureRequirements
    inserted) for a ShuffleExchangeExec of origin ENSURE_REQUIREMENTS —
    the shuffles a join or aggregation needs. A caller's own
    repartition() is a layout choice, not an upstream computation, and a
    persisted input's shuffles sit inside its cache, which the walk does
    not enter: neither is pinned."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()
        todo, shuffled = [plan], False
        while todo and not shuffled:
            node = todo.pop()
            shuffled = (
                node.getClass().getSimpleName() == "ShuffleExchangeExec"
                and node.shuffleOrigin().toString() == "ENSURE_REQUIREMENTS"
            )
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    except Exception:  # pragma: no cover - defensive: pin on doubt
        return eager_checkpoint(df)
    return eager_checkpoint(df) if shuffled else df


def _bucket_expr(col: str, lo: int, width: int, hi: int):
    """``(col - lo) div width`` as a Column — in BIGINT arithmetic when
    the range provably can't overflow, else via DECIMAL(38,0) (exact for
    any int64 domain). ``hi - lo`` itself can exceed int64 (a domain
    spanning +-2^62 has range 2^63): the long subtraction then WRAPS
    under non-ANSI semantics and the walk narrows into garbage bounds —
    found by tests/test_selection_property.py. The decimal path costs
    more per row but runs at most the first round or two; the range
    collapses below the threshold immediately after."""
    if hi - lo <= _I64_MAX - 1:
        return F.expr(f"CAST((`{col}` - {lo}) div {width} AS BIGINT)")
    return F.expr(
        f"CAST((CAST(`{col}` AS DECIMAL(38,0)) - {lo}) div {width} AS BIGINT)"
    )


def _exact_kth_full(
    values: DataFrame,
    k: int,
    col: str = "c",
    lo: int | None = None,
    hi: int | None = None,
    n_range: int | None = None,
) -> tuple[int, list[tuple[int, int]] | None, int]:
    """exact_kth engine. Returns (kth_value, finish_counts, k_in_range):
    when the walk ended in the local-finish stage, finish_counts is the
    sorted (value, count) list for the final range and k_in_range the
    target rank WITHIN it — callers can then answer adjacent-rank
    questions (the even-median (k+1)-th value) without another job.
    finish_counts is None when the walk resolved by width-1 narrowing."""
    # histogram rounds go to the loop round record, so the property suite
    # can assert the O(log_N range) bound without counting Spark jobs
    last_rounds["exact_kth"] = 0
    values = _pin_if_shuffle_upstream(values)
    if lo is None or hi is None:
        row = values.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
        lo, hi = int(row["lo"]), int(row["hi"])
    # narrowing-walk conf window (r9): every round's shuffle carries at
    # most N_BUCKETS (or FINISH_ROWS) aggregate rows — a data-INDEPENDENT
    # bound, so the window always engages; AQE's per-round query-stage
    # jobs and the session-width exchange were pure scheduling latency
    # (see loop.iterative_loop_conf)
    with iterative_loop_conf(values.sparkSession, N_BUCKETS, bcast=True):
        return _exact_kth_walk(values, k, col, lo, hi, n_range)


def _exact_kth_walk(
    values: DataFrame,
    k: int,
    col: str,
    lo: int,
    hi: int,
    n_range: int | None,
) -> tuple[int, list[tuple[int, int]] | None, int]:
    while lo < hi:
        last_rounds["exact_kth"] += 1
        if n_range is not None and n_range <= FINISH_ROWS:
            cnts = sorted(
                (int(r[col]), int(r["n"]))
                for r in values.where(F.col(col).between(F.lit(lo), F.lit(hi)))
                .groupBy(col)
                .agg(F.count("*").alias("n"))
                .collect()
            )
            cum = 0
            for v, n in cnts:
                if cum + n >= k:
                    return v, cnts, k
                cum += n
            raise ValueError("rank exceeds row count in range")
        width = max(1, (hi - lo + N_BUCKETS) // N_BUCKETS)
        hist = (
            values.where(F.col(col).between(F.lit(lo), F.lit(hi)))
            .groupBy(_bucket_expr(col, lo, width, hi).alias("b"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        cum = 0
        for b, n in sorted((int(r["b"]), int(r["n"])) for r in hist):
            if cum + n >= k:
                lo2 = lo + b * width
                hi2 = min(hi, lo2 + width - 1)
                k -= cum
                lo, hi = lo2, hi2
                n_range = n
                break
            cum += n
        else:  # pragma: no cover — unreachable when k <= count
            raise ValueError("rank exceeds row count in range")
        if width == 1:
            return lo, None, k
    return lo, None, k


def exact_kth(
    values: DataFrame,
    k: int,
    col: str = "c",
    lo: int | None = None,
    hi: int | None = None,
    n_range: int | None = None,
) -> int:
    """The k-th smallest (1-based) of an integer column, by histogram
    narrowing with a local-finish stage. Caller guarantees
    1 <= k <= count. ``lo``/``hi`` optionally pass bounds the caller
    already knows (saves the min/max job — callers usually computed them
    fused with their row count); ``n_range`` optionally passes the row
    count within [lo, hi], enabling the local finish as soon as it drops
    to FINISH_ROWS (the chosen bucket's count provides it from round 1
    even when the caller doesn't)."""
    v, _, _ = _exact_kth_full(values, k, col, lo, hi, n_range)
    return v


def exact_median_report(
    df: DataFrame,
    value_col: str,
    cents: bool = True,
) -> DataFrame:
    """One-row report: (n_rows, median) with the standard even-count
    interpolation (mean of the two middle values). ``cents=True`` maps a
    DECIMAL(_,2) column to BIGINT cents so every comparison in the
    narrowing walk is integer-exact (the oracle replicates the same
    ORDER BY/OFFSET definition).

    Cost: min/max + ceil(log_256 range) histogram rounds + (even counts
    only) one adjacency probe — every job returns <= 256 rows to the
    driver."""
    spark = df.sparkSession
    scale = 100 if cents else 1
    # ROUND before the integer cast: prices are doubles, so x*100 sits
    # within an ulp of the intended integer on either side; a bare cast
    # truncates in Spark but rounds in the oracle engine — round() ties
    # away from zero in both (same parity quantize.int8_quantize pins)
    vals = df.select(
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c")
    ).where(F.col("c").isNotNull())
    row = vals.agg(
        F.count("*").alias("n"), F.min("c").alias("lo"), F.max("c").alias("hi")
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        return spark.createDataFrame([], "n_rows bigint, median double")
    k_lo = (n + 1) // 2
    a, cnts, k_rem = _exact_kth_full(
        vals, k_lo, lo=int(row["lo"]), hi=int(row["hi"]), n_range=n
    )
    if n % 2 == 1:
        med = float(a) / scale
    else:
        # the (k_lo+1)-th value: usually free from the local-finish value
        # counts (rank k_rem+1 within the final range); a probe job only
        # when rank k+1 fell outside the collected range or the walk
        # ended by width-1 narrowing
        b = None
        if cnts is not None:
            cum = 0
            for v, c in cnts:
                cum += c
                if cum >= k_rem + 1:
                    b = v
                    break
        if b is None:
            n_le_a = vals.where(F.col("c") <= a).count()
            if n_le_a >= k_lo + 1:
                b = a
            else:
                b = int(
                    vals.where(F.col("c") > a)
                    .agg(F.min("c").alias("m"))
                    .collect()[0]["m"]
                )
        med = (a + b) / (2.0 * scale)
    return spark.createDataFrame(
        [(n, med)], "n_rows bigint, median double"
    )


def grouped_multi_kth(
    vals: DataFrame,
    targets: dict[tuple[str, str], tuple[int, int, int] | tuple[int, int, int, int]],
) -> dict[tuple[str, str], int]:
    """The lockstep narrowing loop generalized to MULTIPLE ranks per
    group: ``vals`` is (g string, c bigint); ``targets`` maps each
    (group, tag) — e.g. ("F", "p25") — to (k, lo, hi) or
    (k, lo, hi, n_range). Every active target advances through ONE
    broadcast bounds-frame join + one (group, tag, bucket) aggregate per
    round; a row feeds every active tag of its group whose range covers
    it (the join fans out by at most the number of tags, typically 2-3
    quantiles). G groups x T tags cost the same number of JOBS as one
    target.

    Targets whose in-range row count (passed as n_range, or learned from
    the chosen bucket after round 1) is <= FINISH_ROWS resolve through
    the shared LOCAL-FINISH pass: one bounds-frame join + (group, tag,
    value) count collect for ALL such targets at once — each contributes
    at most FINISH_ROWS rows, so the collect stays target-bounded, and
    every remaining histogram round for those targets disappears."""
    picked, _fin = grouped_multi_kth_full(vals, targets)
    return picked


def grouped_multi_kth_full(
    vals: DataFrame,
    targets: dict[tuple[str, str], tuple[int, int, int] | tuple[int, int, int, int]],
) -> tuple[
    dict[tuple[str, str], int],
    dict[tuple[str, str], tuple[list[tuple[int, int]], int]],
]:
    """grouped_multi_kth engine; additionally returns, for every target
    that resolved through the local-finish pass, its sorted
    (value, count) list and the target rank WITHIN the final range —
    letting callers answer adjacent-rank questions (the grouped
    even-median probe) without another job."""
    spark = vals.sparkSession
    vals = _pin_if_shuffle_upstream(vals)
    state = {
        gt: {"lo": t[1], "hi": t[2], "k": t[0], "nr": t[3] if len(t) > 3 else None}
        for gt, t in targets.items()
    }
    fin: dict[tuple[str, str], tuple[list[tuple[int, int]], int]] = {}
    active = {gt for gt, s in state.items() if s["lo"] < s["hi"]}
    # narrowing-walk conf window (r9): per-round shuffles are bounded by
    # groups x tags x N_BUCKETS aggregate rows — data-independent, so the
    # window always engages (see loop.iterative_loop_conf / _exact_kth_full)
    with iterative_loop_conf(spark, len(state) * N_BUCKETS, bcast=True):
        _grouped_walk(vals, spark, state, fin, active)
    return {gt: s["lo"] for gt, s in state.items()}, fin


def _grouped_walk(vals, spark, state, fin, active) -> None:
    while active:
        finish = {
            gt
            for gt in active
            if state[gt]["nr"] is not None and state[gt]["nr"] <= FINISH_ROWS
        }
        if finish:
            f_rows = [
                (g, tag, state[(g, tag)]["lo"], state[(g, tag)]["hi"])
                for g, tag in finish
            ]
            f_bounds = spark.createDataFrame(
                f_rows, "g string, __tag string, __lo bigint, __hi bigint"
            )
            cnts = (
                vals.join(F.broadcast(f_bounds), "g")
                .where(F.col("c").between(F.col("__lo"), F.col("__hi")))
                .groupBy("g", "__tag", "c")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            per_f: dict[tuple[str, str], list[tuple[int, int]]] = {}
            for r in cnts:
                per_f.setdefault((r["g"], r["__tag"]), []).append(
                    (int(r["c"]), int(r["n"]))
                )
            for gt in finish:
                s = state[gt]
                cnts = sorted(per_f[gt])
                fin[gt] = (cnts, s["k"])
                cum = 0
                for v, n in cnts:
                    if cum + n >= s["k"]:
                        s["lo"] = s["hi"] = v
                        break
                    cum += n
                active.discard(gt)
            continue
        rows = []
        for g, tag in active:
            s = state[(g, tag)]
            w = max(1, (s["hi"] - s["lo"] + N_BUCKETS) // N_BUCKETS)
            rows.append((g, tag, s["lo"], s["hi"], w))
        bounds = spark.createDataFrame(
            rows, "g string, __tag string, __lo bigint, __hi bigint, __w bigint"
        )
        # same int64-overflow guard as _bucket_expr: if ANY active range
        # exceeds int64, bucket via DECIMAL(38,0) this round (exact for
        # every target; ranges collapse below the threshold after it)
        if any(hi - lo > _I64_MAX - 1 for _, _, lo, hi, _ in rows):
            b_expr = F.expr(
                "CAST((CAST(c AS DECIMAL(38,0)) - __lo) div __w AS BIGINT)"
            )
        else:
            b_expr = F.expr("CAST((c - __lo) div __w AS BIGINT)")
        hist = (
            vals.join(F.broadcast(bounds), "g")
            .where(F.col("c").between(F.col("__lo"), F.col("__hi")))
            .groupBy("g", "__tag", b_expr.alias("b"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        per_target: dict[tuple[str, str], list[tuple[int, int]]] = {}
        for r in hist:
            per_target.setdefault((r["g"], r["__tag"]), []).append(
                (int(r["b"]), int(r["n"]))
            )
        widths = {(g, tag): w for g, tag, _, _, w in rows}
        for gt in list(active):
            s, w = state[gt], widths[gt]
            cum = 0
            for b, n in sorted(per_target[gt]):
                if cum + n >= s["k"]:
                    lo2 = s["lo"] + b * w
                    s["hi"] = min(s["hi"], lo2 + w - 1)
                    s["lo"] = lo2
                    s["k"] -= cum
                    s["nr"] = n
                    break
                cum += n
            if w == 1 or s["lo"] >= s["hi"]:
                s["hi"] = s["lo"]
                active.discard(gt)


def grouped_kth(
    vals: DataFrame,
    targets: dict[str, tuple[int, int, int] | tuple[int, int, int, int]],
) -> dict[str, int]:
    """The lockstep narrowing loop shared by the grouped median and MAD:
    ``vals`` is (g string, c bigint); ``targets`` maps each group to
    (k, lo, hi). Every active group advances through ONE broadcast
    bounds-frame join + one (group, bucket) aggregate per round; returns
    the k-th smallest c per group. G groups cost the same number of jobs
    as one. (Thin single-rank face of grouped_multi_kth.)"""
    got = grouped_multi_kth(vals, {(g, ""): t for g, t in targets.items()})
    return {g: v for (g, _), v in got.items()}


def grouped_exact_median_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cents: bool = True,
) -> DataFrame:
    """Per-group exact medians by the SAME histogram-narrowing walk, all
    groups advanced in lockstep: driver state is one (lo, hi, k) triple
    per group, and each round is ONE broadcast join of the G-row bounds
    frame + one (group, bucket) aggregate — <= G x 256 rows back to the
    driver. G groups cost the same NUMBER of jobs as one (rounds =
    log_256 of the widest group's range), which is the whole point: the
    per-group alternative (percentile() per group) buffers each group's
    values on one executor, and G separate narrowing loops would run
    G x rounds jobs.

    Groups resolved early (range collapsed) drop out of the bounds
    frame. Even-count groups finish with one shared adjacency pass (a
    count-at-a and a min-above-a aggregate over all such groups at
    once). Output: (group, n_rows, median), integer-deterministic."""
    spark = df.sparkSession
    scale = 100 if cents else 1
    vals = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c"),
    ).where(F.col("c").isNotNull() & F.col("g").isNotNull())
    # NULL group keys are excluded: the bounds-frame join is null-unsafe
    # and "the median of the NULL group" has no caller-visible contract

    base = {
        r["g"]: {"lo": int(r["lo"]), "hi": int(r["hi"]), "n": int(r["n"])}
        for r in vals.groupBy("g")
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"), F.count("*").alias("n"))
        .collect()
    }
    a_full, fin = grouped_multi_kth_full(
        vals,
        {
            (g, ""): ((s["n"] + 1) // 2, s["lo"], s["hi"], s["n"])
            for g, s in base.items()
        },
    )
    a = {g: v for (g, _), v in a_full.items()}
    b_vals = dict(a)
    evens = []
    for g, s in base.items():
        if s["n"] % 2 != 0:
            continue
        # rank k+1 usually falls inside the local-finish range; probe
        # only the groups where it didn't (or the walk ended width-1)
        got = None
        if (g, "") in fin:
            cnts, k_rem = fin[(g, "")]
            cum = 0
            for v, c in cnts:
                cum += c
                if cum >= k_rem + 1:
                    got = v
                    break
        if got is not None:
            b_vals[g] = got
        else:
            evens.append(g)
    if evens:
        a_frame = spark.createDataFrame(
            [(g, a[g]) for g in evens], "g string, __a bigint"
        )
        joined = vals.join(F.broadcast(a_frame), "g")
        probe = {
            r["g"]: (int(r["n_le"]), r["above"])
            for r in joined.groupBy("g")
            .agg(
                F.sum((F.col("c") <= F.col("__a")).cast("bigint")).alias("n_le"),
                F.min(F.when(F.col("c") > F.col("__a"), F.col("c"))).alias("above"),
            )
            .collect()
        }
        for g in evens:
            k_hi = base[g]["n"] // 2 + 1
            n_le, above = probe[g]
            b_vals[g] = a[g] if n_le >= k_hi else int(above)

    out = [
        (
            g,
            base[g]["n"],
            (a[g] + b_vals[g]) / (2.0 * scale)
            if base[g]["n"] % 2 == 0
            else float(a[g]) / scale,
        )
        for g in sorted(base)
    ]
    return spark.createDataFrame(
        out, f"{group_col} string, n_rows bigint, median double"
    )


def weighted_exact_median_report(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    cents: bool = True,
) -> DataFrame:
    """Weighted exact median by the same histogram narrowing, with the
    rank measured in WEIGHT MASS: the reported value is the smallest v
    whose cumulative weight (values ordered ascending) reaches half the
    total — e.g. the quantity-weighted median unit price, "the price at
    which the median UNIT shipped", which no unweighted quantile answers.
    The per-round aggregate sums weights per bucket instead of counting
    rows; everything else (driver-held integer bounds, BETWEEN pushdown,
    O(log_256 range) one-row rounds) is unchanged — weighted quantiles
    cost exactly what unweighted ones do.

    Weights are rounded to BIGINT (integer mass keeps the walk exact and
    the standard lower-weighted-median definition needs no
    interpolation). Rows with NULL/non-positive weight carry no mass and
    are dropped. Output: (total_weight, n_rows, weighted_median)."""
    spark = df.sparkSession
    scale = 100 if cents else 1
    vals = df.select(
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c"),
        F.round(F.col(weight_col), 0).cast("bigint").alias("wt"),
    ).where(F.col("c").isNotNull() & (F.col("wt") > 0))
    tot = vals.agg(
        F.sum("wt").alias("w"),
        F.count("*").alias("n"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).collect()[0]
    if tot["n"] is None or tot["n"] == 0:
        return spark.createDataFrame(
            [], "total_weight bigint, n_rows bigint, weighted_median double"
        )
    total_w, n = int(tot["w"]), int(tot["n"])
    k = (total_w + 1) // 2
    lo, hi = int(tot["lo"]), int(tot["hi"])
    n_range = n
    while lo < hi:
        if n_range <= FINISH_ROWS:
            # local finish: the in-range rows are target-bounded, so one
            # (value, weight) collect resolves the weight-mass rank
            cnts = (
                vals.where(F.col("c").between(F.lit(lo), F.lit(hi)))
                .groupBy("c")
                .agg(F.sum("wt").alias("w"))
                .collect()
            )
            cum = 0
            for v, w in sorted((int(r["c"]), int(r["w"])) for r in cnts):
                if cum + w >= k:
                    lo = v
                    break
                cum += w
            break
        width = max(1, (hi - lo + N_BUCKETS) // N_BUCKETS)
        hist = (
            vals.where(F.col("c").between(F.lit(lo), F.lit(hi)))
            .groupBy(_bucket_expr("c", lo, width, hi).alias("b"))
            .agg(F.sum("wt").alias("w"), F.count("*").alias("nn"))
            .collect()
        )
        cum = 0
        for b, w, nn in sorted((int(r["b"]), int(r["w"]), int(r["nn"])) for r in hist):
            if cum + w >= k:
                lo2 = lo + b * width
                hi = min(hi, lo2 + width - 1)
                lo = lo2
                k -= cum
                n_range = nn
                break
            cum += w
        if width == 1:
            break
    return spark.createDataFrame(
        [(total_w, n, float(lo) / scale)],
        "total_weight bigint, n_rows bigint, weighted_median double",
    )


MAD_CONSISTENCY = 1.4826  # 1 / Phi^-1(3/4): MAD -> sigma under normality


def mad_anomaly_report(
    df: DataFrame,
    id_col: str,
    value_col: str,
    scale: int = 10_000,
    z_cut: float = 3.0,
) -> DataFrame:
    """Robust outlier detection by median absolute deviation — the
    composition payoff of the narrowing machinery: median and MAD are
    each an exact_kth run (values quantized to 1/scale units so the
    walk is integer-exact; both engines derive the statistics from the
    same quantized domain), then one map-only pass flags rows with
    |x - median| > z_cut * 1.4826 * MAD and reports their robust z.
    Unlike the mean/stddev z-score (event_value_anomalies), a few
    extreme points cannot inflate the yardstick they are measured
    against — the standard robust alternative.

    Degenerate spread (MAD == 0: at least half the values identical)
    flags nothing, documented rather than dividing by zero. Cost:
    2 narrowing runs + 1 flag scan — O(log_256 range) one-row jobs
    total, no global sort, no percentile value buffer."""
    spark = df.sparkSession
    vals = df.select(
        F.col(id_col),
        F.col(value_col).alias("__x"),
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c"),
    ).where(F.col("c").isNotNull())
    row = vals.agg(
        F.count("*").alias("n"), F.min("c").alias("lo"), F.max("c").alias("hi")
    ).collect()[0]
    n = int(row["n"]) if row["n"] is not None else 0
    if n == 0:
        return spark.createDataFrame(
            [], f"{id_col} bigint, value double, robust_z double"
        )
    lo, hi = int(row["lo"]), int(row["hi"])
    k = (n + 1) // 2
    med_c = exact_kth(vals, k, lo=lo, hi=hi, n_range=n)
    dev = vals.select(F.abs(F.col("c") - F.lit(med_c)).alias("c"))
    # deviation bounds come free from the value bounds: |c - med| lies in
    # [0, max(med - lo, hi - med)] — no extra min/max job
    mad_c = exact_kth(
        dev, k, lo=0, hi=max(med_c - lo, hi - med_c), n_range=n
    )
    if mad_c == 0:
        return spark.createDataFrame(
            [], f"{id_col} bigint, value double, robust_z double"
        )
    med = float(med_c) / scale
    sigma = MAD_CONSISTENCY * (float(mad_c) / scale)
    return (
        vals.withColumn("robust_z", (F.col("__x") - F.lit(med)) / F.lit(sigma))
        .where(F.abs(F.col("robust_z")) > F.lit(float(z_cut)))
        .select(F.col(id_col), F.col("__x").alias("value"), "robust_z")
        .orderBy(id_col)
    )


def grouped_mad_anomaly_report(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    scale: int = 10_000,
    z_cut: float = 3.0,
) -> DataFrame:
    """Per-group MAD outliers — every group gets its OWN robust yardstick
    (a price that is wild for one segment can be routine for another),
    with both the medians and the MADs found by the SHARED lockstep
    narrowing (grouped_kth): two lockstep phases + one flag scan however
    many groups there are. Same quantized-domain statistics and literal
    arithmetic as mad_anomaly_report, so the flagged set hash-matches
    the oracle; groups with MAD 0 flag nothing (documented degenerate),
    NULL group keys are excluded (no contract)."""
    vals = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(id_col),
        F.col(value_col).alias("__x"),
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c"),
    ).where(F.col("c").isNotNull() & F.col("g").isNotNull())
    from pipeline_pyspark_etl_imdb_spark.operators.util import tracked_persist

    # the walk re-reads this frame ~7 times (base bounds + two lockstep
    # phases + flag pass); persist for the call, released by the
    # harnesses' release_tracked()
    vals = tracked_persist(vals)
    spark = df.sparkSession
    base = {
        r["g"]: (int(r["n"]), int(r["lo"]), int(r["hi"]))
        for r in vals.groupBy("g")
        .agg(F.count("*").alias("n"), F.min("c").alias("lo"), F.max("c").alias("hi"))
        .collect()
    }
    if not base:
        return spark.createDataFrame(
            [], f"{group_col} string, {id_col} bigint, value double, robust_z double"
        )
    med = grouped_kth(
        vals.select("g", "c"),
        {g: ((n + 1) // 2, lo, hi, n) for g, (n, lo, hi) in base.items()},
    )
    med_frame = spark.createDataFrame(
        [(g, m) for g, m in med.items()], "g string, __med bigint"
    )
    dev = vals.join(F.broadcast(med_frame), "g").select(
        "g", F.abs(F.col("c") - F.col("__med")).alias("c")
    )
    # deviation bounds come free from the base bounds: |c - med| lies in
    # [0, max(med - lo, hi - med)] — a containing range is all the
    # narrowing loop needs (empty low buckets just contribute nothing),
    # so no extra min/max job over the deviation frame
    mad = grouped_kth(
        dev,
        {
            g: (
                (base[g][0] + 1) // 2,
                0,
                max(med[g] - base[g][1], base[g][2] - med[g]),
                base[g][0],
            )
            for g in base
        },
    )
    params = [
        (
            g,
            float(med[g]) / scale,
            MAD_CONSISTENCY * (float(mad[g]) / scale),
        )
        for g in sorted(base)
        if mad[g] > 0
    ]
    if not params:
        return spark.createDataFrame(
            [], f"{group_col} string, {id_col} bigint, value double, robust_z double"
        )
    p_frame = spark.createDataFrame(params, "g string, __med double, __sigma double")
    return (
        vals.join(F.broadcast(p_frame), "g")
        .withColumn(
            "robust_z", (F.col("__x") - F.col("__med")) / F.col("__sigma")
        )
        .where(F.abs(F.col("robust_z")) > F.lit(float(z_cut)))
        .select(
            F.col("g").alias(group_col),
            F.col(id_col),
            F.col("__x").alias("value"),
            "robust_z",
        )
        .orderBy(group_col, id_col)
    )


def grouped_exact_iqr_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cents: bool = True,
    fence: float = 1.5,
) -> DataFrame:
    """Per-group EXACT quartiles + Tukey-fence outlier counts:
    (group, n_rows, p25, p50, p75, iqr, n_low_outliers, n_high_outliers)
    — the robust spread report behind box plots and fence-based data
    cleaning, computed without percentile()'s per-group value buffers.

    Quantile definition: type-1 (lower) order statistic, p_q = the
    ceil(q*n)-th smallest — an actual data value, integer-deterministic,
    so the report hash-matches an ORDER BY/OFFSET oracle with no
    interpolation ambiguity. All THREE quartiles of ALL groups advance
    through one grouped_multi_kth lockstep walk (a row feeds at most 3
    range-overlapping targets per round), then ONE broadcast-fence pass
    counts outliers: G groups x 3 ranks cost log_N(range) + 1 jobs
    total. Fences are fence*iqr beyond the quartiles in integer-cents
    space, so the counts are exact too."""
    spark = df.sparkSession
    scale = 100 if cents else 1
    vals = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c"),
    ).where(F.col("c").isNotNull() & F.col("g").isNotNull())
    base = {
        r["g"]: {"lo": int(r["lo"]), "hi": int(r["hi"]), "n": int(r["n"])}
        for r in vals.groupBy("g")
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"), F.count("*").alias("n"))
        .collect()
    }
    if not base:
        return spark.createDataFrame(
            [],
            f"{group_col} string, n_rows bigint, p25 double, p50 double, "
            "p75 double, iqr double, n_low_outliers bigint, "
            "n_high_outliers bigint",
        )
    qs = (("p25", 1, 4), ("p50", 2, 4), ("p75", 3, 4))
    targets = {
        (g, tag): (-((-num * s["n"]) // den), s["lo"], s["hi"], s["n"])  # ceil(q*n)
        for g, s in base.items()
        for tag, num, den in qs
    }
    picked = grouped_multi_kth(vals, targets)
    # one shared fence pass: integer fences from the exact quartiles
    # (scaled by 2 so fence=1.5 stays integral: compare 2c vs 2*bound)
    fl = int(round(fence * 2))
    fences = [
        (
            g,
            2 * picked[(g, "p25")]
            - fl * (picked[(g, "p75")] - picked[(g, "p25")]),
            2 * picked[(g, "p75")]
            + fl * (picked[(g, "p75")] - picked[(g, "p25")]),
        )
        for g in base
    ]
    f_frame = spark.createDataFrame(fences, "g string, __flo bigint, __fhi bigint")
    counts = {
        r["g"]: (int(r["n_low"]), int(r["n_high"]))
        for r in vals.join(F.broadcast(f_frame), "g")
        .groupBy("g")
        .agg(
            F.sum((2 * F.col("c") < F.col("__flo")).cast("bigint")).alias("n_low"),
            F.sum((2 * F.col("c") > F.col("__fhi")).cast("bigint")).alias("n_high"),
        )
        .collect()
    }
    out = [
        (
            g,
            base[g]["n"],
            picked[(g, "p25")] / scale,
            picked[(g, "p50")] / scale,
            picked[(g, "p75")] / scale,
            (picked[(g, "p75")] - picked[(g, "p25")]) / scale,
            counts[g][0],
            counts[g][1],
        )
        for g in sorted(base)
    ]
    return spark.createDataFrame(
        out,
        f"{group_col} string, n_rows bigint, p25 double, p50 double, "
        "p75 double, iqr double, n_low_outliers bigint, n_high_outliers bigint",
    )


def trimmed_mean_report(
    df: DataFrame,
    value_col: str,
    trim: float = 0.05,
    cents: bool = True,
) -> DataFrame:
    """One-row EXACT trimmed mean: drop the lowest and highest
    floor(trim*n) values, mean the rest — the robust location estimate
    that, unlike the median, still uses ~90% of the data. Cut values
    come from two exact_kth narrowing walks (shared scan shapes); the
    interior mean is ONE conditional DECIMAL sum, made exact under ties
    by counting boundary duplicates: rows equal to a cut value
    contribute only as many copies as the trim leaves inside. Output:
    (n_rows, n_trimmed_each, trimmed_mean)."""
    spark = df.sparkSession
    scale = 100 if cents else 1
    vals = df.select(
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c")
    ).where(F.col("c").isNotNull())
    row = vals.agg(
        F.count("*").alias("n"), F.min("c").alias("lo"), F.max("c").alias("hi")
    ).collect()[0]
    n = int(row["n"])
    t = int(trim * n)
    if n == 0 or n - 2 * t <= 0:
        return spark.createDataFrame(
            [], "n_rows bigint, n_trimmed_each bigint, trimmed_mean double"
        )
    lo_b, hi_b = int(row["lo"]), int(row["hi"])
    # BOTH cut ranks advance through one lockstep walk (a constant group
    # with two tags): one histogram + one local-finish job total, instead
    # of two independent walks
    picked = grouped_multi_kth(
        vals.select(F.lit("").alias("g"), "c"),
        {
            ("", "lo"): (t + 1, lo_b, hi_b, n),
            ("", "hi"): (n - t, lo_b, hi_b, n),
        },
    )
    lo_cut, hi_cut = picked[("", "lo")], picked[("", "hi")]
    agg = vals.agg(
        F.sum(
            F.when(F.col("c").between(F.lit(lo_cut), F.lit(hi_cut)), F.col("c"))
        ).cast("decimal(38,0)").alias("s_in"),
        F.sum((F.col("c") < F.lit(lo_cut)).cast("bigint")).alias("n_below"),
        F.sum((F.col("c") == F.lit(lo_cut)).cast("bigint")).alias("n_at_lo"),
        F.sum((F.col("c") > F.lit(hi_cut)).cast("bigint")).alias("n_above"),
        F.sum((F.col("c") == F.lit(hi_cut)).cast("bigint")).alias("n_at_hi"),
    ).collect()[0]
    s = int(agg["s_in"])
    # boundary ties: trim wants exactly t rows off each side; the strict
    # inequalities removed n_below/n_above, so remove the shortfall as
    # copies of the cut values (exact integer arithmetic)
    extra_lo = t - int(agg["n_below"])
    extra_hi = t - int(agg["n_above"])
    if lo_cut == hi_cut:
        # degenerate: the kept range is a single value
        kept = n - 2 * t
        s = lo_cut * kept
    else:
        s -= extra_lo * lo_cut + extra_hi * hi_cut
        kept = n - 2 * t
    # float(s) FIRST, then two divisions — mirrors the oracle's
    # CAST(s AS DOUBLE)/kept/scale step order (identical roundings; s is
    # exact in double through ~2^53 total kept cents)
    mean = (float(s) / kept) / scale if kept else None
    return spark.createDataFrame(
        [(n, t, float(mean))],
        "n_rows bigint, n_trimmed_each bigint, trimmed_mean double",
    )


def grouped_quantile_bands(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cents: bool = True,
) -> DataFrame:
    """Per-group EXACT quantile vector (p10, p25, p50, p75, p90) — the
    banded spread profile behind SLO dashboards and per-segment price
    ladders — with every rank of every group advanced through ONE
    grouped_multi_kth lockstep walk: G groups x 5 ranks cost one
    histogram round plus one shared local-finish job, however many
    groups there are.

    Quantile definition: type-1 (lower) order statistic, p_q = the
    ceil(q*n)-th smallest — an actual data value, integer-deterministic,
    hash-matching an ORDER BY/row_number oracle with no interpolation
    ambiguity. Same cents quantization contract as the median/IQR
    family."""
    spark = df.sparkSession
    scale = 100 if cents else 1
    vals = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("c"),
    ).where(F.col("c").isNotNull() & F.col("g").isNotNull())
    base = {
        r["g"]: {"lo": int(r["lo"]), "hi": int(r["hi"]), "n": int(r["n"])}
        for r in vals.groupBy("g")
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"), F.count("*").alias("n"))
        .collect()
    }
    schema = (
        f"{group_col} string, n_rows bigint, p10 double, p25 double, "
        "p50 double, p75 double, p90 double"
    )
    if not base:
        return spark.createDataFrame([], schema)
    qs = (("p10", 1, 10), ("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10))
    targets = {
        (g, tag): (-((-num * s["n"]) // den), s["lo"], s["hi"], s["n"])  # ceil(q*n)
        for g, s in base.items()
        for tag, num, den in qs
    }
    picked = grouped_multi_kth(vals, targets)
    out = [
        (
            g,
            base[g]["n"],
            *(picked[(g, tag)] / scale for tag, _, _ in qs),
        )
        for g in sorted(base)
    ]
    return spark.createDataFrame(out, schema)
