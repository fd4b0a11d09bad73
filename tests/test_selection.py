"""exact_kth / exact_median_report — histogram-narrowing order
statistics. The registry query is oracle-backed; these tests pin the
edge semantics the fixture can't reach (even/odd counts, duplicates
across the middle, degenerate ranges) and agreement with Spark's own
exact percentile aggregate."""

import pytest
from pyspark.sql import functions as F

from pipeline_pyspark_etl_imdb_spark.operators.selection import (
    exact_kth,
    exact_median_report,
)
from tests.conftest import SF_ORACLE


def _vals(spark, xs):
    return spark.createDataFrame([(int(x),) for x in xs], "c bigint")


def test_exact_kth_full_rank_sweep(spark):
    xs = [7, 3, 3, 9, 1, 1000000, 42, 3]
    vals = _vals(spark, xs)
    want = sorted(xs)
    for k in range(1, len(xs) + 1):
        assert exact_kth(vals, k) == want[k - 1], k


def test_median_odd_even_and_duplicates(spark):
    # odd count -> middle value exactly
    df = spark.createDataFrame([(x,) for x in (1.0, 2.0, 100.0)], "v double")
    out = exact_median_report(df, "v", cents=False).collect()[0]
    assert (out.n_rows, out.median) == (3, 2.0)
    # even count -> mean of the two middles (possible .5)
    df = spark.createDataFrame([(x,) for x in (1.0, 2.0, 3.0, 100.0)], "v double")
    assert exact_median_report(df, "v", cents=False).collect()[0].median == 2.5
    # duplicates spanning the middle: both order stats are the same value
    df = spark.createDataFrame([(x,) for x in (1.0, 5.0, 5.0, 9.0)], "v double")
    assert exact_median_report(df, "v", cents=False).collect()[0].median == 5.0
    # all-equal column: range collapses immediately
    df = spark.createDataFrame([(4.0,)] * 6, "v double")
    assert exact_median_report(df, "v", cents=False).collect()[0].median == 4.0


def test_median_matches_spark_percentile_on_fixture(spark):
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    got = exact_median_report(li, "l_extendedprice").collect()[0]
    want = li.agg(
        F.expr(
            "percentile(CAST(round(l_extendedprice * 100, 0) AS BIGINT), 0.5)"
        ).alias("m")
    ).collect()[0]["m"]
    assert abs(got.median - want / 100.0) < 1e-9
    assert got.n_rows == li.where(F.col("l_extendedprice").isNotNull()).count()


def test_median_null_only_and_empty(spark):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    assert exact_median_report(df, "v", cents=False).count() == 0


def test_grouped_median_matches_per_group_percentile(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        grouped_exact_median_report,
    )

    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    got = {
        r.o_orderstatus: (r.n_rows, r.median)
        for r in grouped_exact_median_report(
            orders, "o_orderstatus", "o_totalprice"
        ).collect()
    }
    want = {
        r.g: (r.n, r.m / 100.0)
        for r in orders.groupBy(F.col("o_orderstatus").alias("g"))
        .agg(
            F.count("o_totalprice").alias("n"),
            F.expr(
                "percentile(CAST(round(o_totalprice * 100, 0) AS BIGINT), 0.5)"
            ).alias("m"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0]
        assert abs(got[g][1] - want[g][1]) < 1e-9


def test_grouped_median_mixed_group_shapes(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        grouped_exact_median_report,
    )

    df = spark.createDataFrame(
        [("odd", 1.0), ("odd", 9.0), ("odd", 5.0),
         ("even", 2.0), ("even", 4.0),
         ("const", 7.0), ("const", 7.0), ("const", 7.0)],
        "g string, v double",
    )
    out = {
        r.g: r.median
        for r in grouped_exact_median_report(df, "g", "v", cents=False).collect()
    }
    assert out == {"odd": 5.0, "even": 3.0, "const": 7.0}


def test_weighted_median_mass_concentration(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        weighted_exact_median_report,
    )

    # 100 units at price 1.00, 1 unit at price 99.00 -> the median UNIT
    # is a 1.00 unit regardless of the row-median
    df = spark.createDataFrame(
        [(1.0, 100.0), (99.0, 1.0)], "v double, w double"
    )
    out = weighted_exact_median_report(df, "v", "w").collect()[0]
    assert (out.total_weight, out.n_rows, out.weighted_median) == (101, 2, 1.0)
    # flip the mass
    df = spark.createDataFrame([(1.0, 1.0), (99.0, 100.0)], "v double, w double")
    assert weighted_exact_median_report(df, "v", "w").collect()[0].weighted_median == 99.0


def test_weighted_median_matches_bruteforce(spark):
    import random

    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        weighted_exact_median_report,
    )

    rng = random.Random(7)
    rows = [(round(rng.uniform(0, 500), 2), float(rng.randint(1, 9))) for _ in range(800)]
    df = spark.createDataFrame(rows, "v double, w double")
    got = weighted_exact_median_report(df, "v", "w").collect()[0]
    # brute force: smallest value whose ascending cum weight >= (W+1)//2
    pairs = sorted((int(round(v * 100)), int(w)) for v, w in rows)
    W = sum(w for _, w in pairs)
    k, cum = (W + 1) // 2, 0
    for c, w in pairs:
        cum += w
        if cum >= k:
            want = c / 100.0
            break
    assert got.weighted_median == want
    assert got.total_weight == W


def test_weighted_median_drops_zero_weight(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        weighted_exact_median_report,
    )

    df = spark.createDataFrame(
        [(5.0, 3.0), (1000.0, 0.0), (None, 4.0)], "v double, w double"
    )
    out = weighted_exact_median_report(df, "v", "w").collect()[0]
    assert (out.total_weight, out.n_rows, out.weighted_median) == (3, 1, 5.0)


def test_mad_report_flags_outliers_not_bulk(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import mad_anomaly_report

    rows = [(i, 100.0 + (i % 7)) for i in range(50)] + [(990, 5000.0), (991, -900.0)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    out = mad_anomaly_report(df, "event_id", "value").collect()
    assert {r.event_id for r in out} == {990, 991}
    zs = {r.event_id: r.robust_z for r in out}
    assert zs[990] > 3.0 and zs[991] < -3.0


def test_mad_report_degenerate_spread_flags_nothing(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import mad_anomaly_report

    # >= half identical values -> MAD 0 -> documented empty result
    rows = [(i, 42.0) for i in range(30)] + [(100 + i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    assert mad_anomaly_report(df, "event_id", "value").count() == 0


def test_grouped_median_null_group_excluded_not_crash(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        grouped_exact_median_report,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 90.0)],
        "g string, v double",
    )
    out = grouped_exact_median_report(df, "g", "v", cents=False).collect()
    assert [(r.g, r.median) for r in out] == [("a", 2.0)]


def test_grouped_mad_per_group_yardsticks(spark):
    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        grouped_mad_anomaly_report,
    )

    # value 200 is WILD for the calm group but routine for the wild one;
    # the flat group (MAD 0) must flag nothing at any value
    rows = (
        [("calm", i, 100.0 + (i % 5)) for i in range(40)]
        + [("calm", 900, 200.0)]
        + [("wild", 100 + i, float(100 * (i % 7))) for i in range(40)]
        + [("wild", 901, 200.0)]
        + [("flat", 200 + i, 7.0) for i in range(20)]
        + [("flat", 902, 7000.0)]
    )
    df = spark.createDataFrame(rows, "g string, id long, v double")
    out = grouped_mad_anomaly_report(df, "g", "id", "v").collect()
    flagged = {(r.g, r.id) for r in out}
    assert ("calm", 900) in flagged
    assert ("wild", 901) not in flagged
    assert not any(g == "flat" for g, _ in flagged)


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_pin_guard_pins_only_required_shuffles(spark, tmp_path, aqe):
    """The walk re-runs its input every round inside the narrow window,
    so exactly the inputs whose plan needs an inserted shuffle (join,
    aggregation) are pinned once; a scan or the caller's own bare
    repartition is not. Both AQE settings (initial vs executed plan)."""
    from pipeline_pyspark_etl_imdb_spark.operators.selection import (
        _pin_if_shuffle_upstream,
    )
    from pipeline_pyspark_etl_imdb_spark.operators.util import release_tracked

    spark.range(200).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("c")
    ).write.parquet(str(tmp_path / "t"))
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        scan = spark.read.parquet(str(tmp_path / "t"))
        joined = (
            scan.join(scan.select("k", F.col("c").alias("c2")), "k")
            .groupBy("k")
            .agg(F.sum("c2").alias("c"))
        )
        pins = {
            name: _pin_if_shuffle_upstream(df) is not df
            for name, df in [
                ("scan", scan),
                ("join+groupBy", joined),
                ("repartition", scan.repartition(4)),
            ]
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        release_tracked()
    assert pins == {"scan": False, "join+groupBy": True, "repartition": False}
