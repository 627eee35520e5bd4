"""Binned range join: semantics vs a naive nested-loop reference, edge
cases (bound inclusivity, bin-boundary straddles, invalid intervals),
auto bin width, and the plan shape (no nested loop)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.ranges import range_join

T0 = dt.datetime(2024, 1, 1)


def _ts(s):
    return T0 + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def frames(spark):
    probe = spark.createDataFrame(
        [(i, i % 3, _ts(s)) for i, s in enumerate([0, 5, 59, 60, 61, 100, 3600, 7200])],
        "pid long, k long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (100, 0, _ts(0), _ts(60)),        # spans a bin boundary at 60s
            (101, 1, _ts(59), _ts(61)),       # straddles the boundary tightly
            (102, 2, _ts(100), _ts(100)),     # zero-length, matches ts==100 only
            (103, 0, _ts(7100), _ts(7300)),   # far bin
            (104, 1, _ts(50), _ts(40)),       # INVALID end<start: dropped
            (105, 0, _ts(0), _ts(10000)),     # giant interval, many bins
        ],
        "iid long, k long, start timestamp, end timestamp",
    )
    return probe, intervals


def _naive(probe, intervals):
    """Reference: unbinned nested-loop join with the exact predicate."""
    return (
        probe.join(intervals.withColumnRenamed("k", "ik"), F.col("k") == F.col("ik"))
        .filter((F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end")))
        .select("pid", "iid")
    )


def _pairs(df):
    return sorted((r.pid, r.iid) for r in df.select("pid", "iid").collect())


@pytest.mark.parametrize("bin_width_s", [1.0, 60.0, 3600.0, "auto"])
def test_matches_naive_reference(spark, frames, bin_width_s):
    probe, intervals = frames
    got = range_join(probe, intervals, keys=["k"], bin_width_s=bin_width_s)
    assert _pairs(got) == _pairs(_naive(probe, intervals))


def test_bounds_inclusive_and_invalid_dropped(spark, frames):
    probe, intervals = frames
    pairs = _pairs(range_join(probe, intervals, keys=["k"], bin_width_s=60.0))
    assert (3, 100) in pairs          # ts == end inclusive
    assert (0, 100) in pairs          # ts == start inclusive
    assert all(i != 104 for _, i in pairs)  # invalid interval never matches


def test_zero_length_interval(spark, frames):
    probe, intervals = frames
    pairs = _pairs(range_join(probe, intervals, keys=["k"], bin_width_s=7.0))
    # pid 5 is (k=2, ts=100); interval 102 is k=2 [100, 100]
    assert (5, 102) in pairs


def test_no_keys_global_intervals(spark, frames):
    probe, intervals = frames
    got = range_join(
        probe.select("pid", "ts"),
        intervals.select("iid", "start", "end"),
        keys=None,
        bin_width_s=60.0,
    )
    naive = (
        probe.crossJoin(intervals)
        .filter((F.col("ts") >= F.col("start")) & (F.col("ts") <= F.col("end")))
    )
    assert _pairs(got) == _pairs(naive)


def test_overlapping_columns_raise(spark, frames):
    probe, intervals = frames
    with pytest.raises(ValueError, match="non-key columns"):
        range_join(probe, intervals.withColumnRenamed("iid", "pid"), keys=["k"])


def test_plan_has_no_nested_loop(spark, frames):
    probe, intervals = frames
    # fixed width: the ONLY join is the (keys, bin) equi-join
    plan = (
        range_join(probe, intervals, keys=["k"], bin_width_s=60.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    # auto width: the two 1-row funnels are BNLJ-by-construction (same
    # contract as bm25's corpus constants) but the probe-interval join
    # must still be an equi hash/merge join and never a cartesian
    plan = (
        range_join(probe, intervals, keys=["k"], bin_width_s="auto")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_bin_width_validation(spark, frames):
    probe, intervals = frames
    with pytest.raises(ValueError, match="positive"):
        range_join(probe, intervals, keys=["k"], bin_width_s=0)


def test_reserved_internal_names_raise(spark, frames):
    probe, intervals = frames
    with pytest.raises(ValueError, match="internals"):
        range_join(probe.withColumn("__bin", F.lit(1)), intervals, keys=["k"])
