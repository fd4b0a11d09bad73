"""Property tests for the histogram-narrowing selection contract
(operators/selection.exact_kth / grouped_kth): over RANDOM integer
domains — negative, clustered, duplicate-heavy, and astronomically wide
(beyond 2^53, where double-precision bucket math would mis-bucket) —
the narrowing walk must return exactly sorted(values)[k-1].

The invariants under test are the ones SCALE.md documents as the
seventh iterative shape's API:
  * driver state is two integers (lo, hi) per target — the walk never
    depends on value distribution, only on the integer domain;
  * each round strictly shrinks [lo, hi] (width >= 1 and the picked
    bucket is a proper sub-range), so termination is guaranteed in
    O(log_N range) rounds;
  * ties walk deterministically: k rescales into the picked bucket, so
    duplicate-heavy domains resolve to the same value as a sort.
"""

import random

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pipeline_pyspark_etl_imdb_spark.operators.selection import (
    N_BUCKETS,
    exact_kth,
    grouped_kth,
)

# mixed scales in one strategy: tight clusters (exercise width-1
# endgame), mid-range, and > 2^53 magnitudes (exercise integer `div`
# bucketing where float division would round boundary values)
_scales = st.sampled_from([10, 10_000, 2**40, 2**60])
_domains = _scales.flatmap(
    lambda s: st.lists(
        st.integers(min_value=-s, max_value=s), min_size=1, max_size=40
    )
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=_domains, data=st.data())
@example(values=[2**62, 2**62 - 1, -(2**62)], data=None)
@example(values=[0] * 17, data=None)
@example(values=[2**53, 2**53 + 1, 2**53 + 2], data=None)
def test_exact_kth_matches_sort(spark, values, data):
    if data is None:  # pinned @example rows: probe every rank
        ks = range(1, len(values) + 1)
    else:
        ks = [data.draw(st.integers(min_value=1, max_value=len(values)))]
    df = spark.createDataFrame([(v,) for v in values], "c bigint")
    expected = sorted(values)
    for k in ks:
        assert exact_kth(df, k) == expected[k - 1]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    groups=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.lists(
            st.integers(min_value=-(2**60), max_value=2**60),
            min_size=1,
            max_size=25,
        ),
        min_size=1,
        max_size=4,
    ),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_grouped_kth_lockstep_matches_per_group_sort(spark, groups, seed):
    rng = random.Random(seed)
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, c bigint")
    targets = {
        g: (rng.randint(1, len(vs)), min(vs), max(vs))
        for g, vs in groups.items()
    }
    got = grouped_kth(df, targets)
    for g, (k, _, _) in targets.items():
        assert got[g] == sorted(groups[g])[k - 1], (g, k, sorted(groups[g]))


def test_exact_kth_round_count_is_log_bounded(spark):
    """O(log_N range) histogram rounds even on a full-int64-range domain:
    ceil(log_{N_BUCKETS}(2^63)) <= 6 — driver state two integers
    throughout. This is the scale contract, the reason the walk beats
    percentile()'s per-group value buffers at 100 TB."""
    import math

    from pipeline_pyspark_etl_imdb_spark.operators.loop import last_rounds

    values = [-(2**62), -17, 0, 5, 2**61, 2**62]
    df = spark.createDataFrame([(v,) for v in values], "c bigint")
    assert exact_kth(df, 3) == 0
    value_range = 2**63
    max_rounds = math.ceil(math.log(value_range, N_BUCKETS))
    assert 1 <= last_rounds["exact_kth"] <= max_rounds, (
        f"{last_rounds['exact_kth']} rounds for a {value_range} range "
        f"(expected <= {max_rounds})"
    )
