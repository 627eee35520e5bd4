"""Temporal layer: as-of join (salted and not) vs a pandas merge_asof
oracle, NULL/NaN build cells on Spark rows; fills; sessionization;
zero-leakage adversarial test (FIXTURES.md golden invariant 6)."""

import datetime as dt
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators import (
    asof_join,
    backward_fill,
    forward_fill,
    sessionize,
    with_lag_lead,
)

T0 = dt.datetime(2024, 1, 1)


def ts(mins):
    return T0 + dt.timedelta(minutes=mins)


@pytest.fixture(scope="module")
def asof_frames(spark):
    build_rows = [
        ("a", ts(0), 1.0), ("a", ts(10), 2.0), ("a", ts(20), 3.0),
        ("b", ts(5), 10.0), ("b", ts(50), 20.0),
        ("c", ts(100), 99.0),
    ]
    probe_rows = [
        ("a", ts(0)), ("a", ts(5)), ("a", ts(10)), ("a", ts(15)), ("a", ts(25)),
        ("b", ts(0)), ("b", ts(5)), ("b", ts(49)), ("b", ts(51)),
        ("c", ts(99)), ("d", ts(1)),
    ]
    build = spark.createDataFrame(build_rows, "key string, ts timestamp, val double")
    probe = spark.createDataFrame(probe_rows, "key string, ts timestamp")
    return probe, build


def _pandas_oracle(probe, build, **kw):
    p = probe.toPandas().sort_values("ts", kind="mergesort")
    b = build.toPandas().sort_values("ts", kind="mergesort")
    return pd.merge_asof(p, b, on="ts", by="key", **kw).sort_values(
        ["key", "ts"]
    ).reset_index(drop=True)


def _collect_sorted(df):
    return (
        df.toPandas().sort_values(["key", "ts"]).reset_index(drop=True)
    )


# the ids name the union window, the as-of join's one physical plan
@pytest.mark.parametrize("salt", [None, 4], ids=["None-union", "4-union"])
def test_asof_backward_matches_merge_asof(asof_frames, salt):
    probe, build = asof_frames
    got = _collect_sorted(asof_join(probe, build, on="key", ts="ts", salt=salt))
    expect = _pandas_oracle(probe, build)
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_asof_forward(asof_frames):
    probe, build = asof_frames
    got = _collect_sorted(asof_join(probe, build, on="key", ts="ts", direction="forward"))
    expect = _pandas_oracle(probe, build, direction="forward")
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_asof_tolerance(asof_frames):
    probe, build = asof_frames
    got = _collect_sorted(
        asof_join(probe, build, on="key", ts="ts", tolerance_s=300)
    )
    expect = _pandas_oracle(probe, build, tolerance=pd.Timedelta(seconds=300))
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_asof_no_exact_matches(asof_frames):
    probe, build = asof_frames
    got = _collect_sorted(
        asof_join(probe, build, on="key", ts="ts", allow_exact_matches=False)
    )
    expect = _pandas_oracle(probe, build, allow_exact_matches=False)
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


_NAN = float("nan")
# per direction: probe minute -> (val, tag); the matched row's NULL and NaN
# cells come through as they are (pandas merge_asof / DuckDB ASOF)
_CELLS_EXPECT = {
    "backward": {5: (1.0, "x"), 15: (None, None), 25: (_NAN, "z")},
    "forward": {5: (None, None), 15: (_NAN, "z"), 25: (None, None)},
    "nearest": {5: (1.0, "x"), 15: (None, None), 25: (_NAN, "z")},  # ties go backward
}


@pytest.mark.parametrize("salt", [None, 4, "auto"])
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_null_and_nan_cells_come_through(spark, direction, salt):
    """A matched build row is returned whole: its NULL cells are not
    skipped for an older row's values, and its NaN stays NaN (asserted on
    Spark rows; pandas cannot tell NULL from NaN)."""
    build = spark.createDataFrame(
        [("a", ts(0), 1.0, "x"), ("a", ts(10), None, None), ("a", ts(20), _NAN, "z")],
        "key string, ts timestamp, val double, tag string",
    )
    probe = spark.createDataFrame(
        [("a", ts(m)) for m in (5, 15, 25)], "key string, ts timestamp"
    )
    out = asof_join(probe, build, on="key", ts="ts", direction=direction,
                    salt=salt, salt_target_rows=1)
    canon = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v  # noqa: E731
    got = {r["ts"].minute: (canon(r["val"]), r["tag"]) for r in out.collect()}
    assert got == {
        m: (canon(v), t) for m, (v, t) in _CELLS_EXPECT[direction].items()
    }


def test_asof_zero_leakage_adversarial(spark):
    """Rows 1s *after* each probe ts must never influence the result
    (FIXTURES.md invariant 6)."""
    build = spark.createDataFrame(
        [("k", ts(10), 1.0)], "key string, ts timestamp, val double"
    )
    # adversarial build rows strictly in the future of every probe
    poisoned = build.unionByName(
        spark.createDataFrame(
            [("k", ts(15) + dt.timedelta(seconds=1), 666.0),
             ("k", ts(16), 777.0)],
            "key string, ts timestamp, val double",
        )
    )
    probe = spark.createDataFrame(
        [("k", ts(10)), ("k", ts(15))], "key string, ts timestamp"
    )
    clean = _collect_sorted(asof_join(probe, build, on="key", ts="ts"))
    dirty = _collect_sorted(asof_join(probe, poisoned, on="key", ts="ts"))
    pd.testing.assert_frame_equal(clean, dirty)
    assert (dirty["val"] == 1.0).all()


def test_forward_backward_fill(spark):
    df = spark.createDataFrame(
        [
            ("k", ts(0), None), ("k", ts(1), 5.0), ("k", ts(2), None),
            ("k", ts(3), None), ("k", ts(4), 7.0), ("k", ts(5), None),
        ],
        "key string, ts timestamp, v double",
    )
    ff = forward_fill(df, ["v"], key="key").orderBy("ts").collect()
    assert [r["v"] for r in ff] == [None, 5.0, 5.0, 5.0, 7.0, 7.0]
    bf = backward_fill(df, ["v"], key="key").orderBy("ts").collect()
    assert [r["v"] for r in bf] == [5.0, 5.0, 7.0, 7.0, 7.0, None]


def test_lag_lead(spark):
    df = spark.createDataFrame(
        [("k", ts(i), float(i)) for i in range(4)], "key string, ts timestamp, v double"
    )
    out = with_lag_lead(df, ["v"], key="key").orderBy("ts").collect()
    assert [r["v_lag1"] for r in out] == [None, 0.0, 1.0, 2.0]
    assert [r["v_lead1"] for r in out] == [1.0, 2.0, 3.0, None]


def test_sessionize(spark):
    rows = [("k", ts(m)) for m in (0, 1, 2, 60, 61, 200)] + [("j", ts(0))]
    df = spark.createDataFrame(rows, "key string, ts timestamp")
    out = sessionize(df, key="key", ts="ts", gap_s=600).collect()
    k = sorted([(r["ts"], r["session_id"]) for r in out if r["key"] == "k"])
    assert [s for _, s in k] == [1, 1, 1, 2, 2, 3]
    j = [r["session_id"] for r in out if r["key"] == "j"]
    assert j == [1]


def test_auto_salt(spark):
    """salt='auto' scatters an extreme hot key (10 buckets here) and never
    changes results."""
    hot = spark.range(10000).select(
        F.lit("hot").alias("key"),
        F.timestamp_micros((F.col("id") * 1000).cast("long")).alias("ts"),
    )
    build = hot.withColumn("v", F.col("ts").cast("double"))
    a = asof_join(hot, build, on="key", ts="ts", salt="auto",
                  salt_target_rows=1000).toPandas()
    b = asof_join(hot, build, on="key", ts="ts").toPandas()
    a = a.sort_values(["key", "ts"]).reset_index(drop=True)
    b = b.sort_values(["key", "ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_auto_salt_construction_runs_no_job(spark):
    """salt='auto' is lazy per-key salting: the key-count dimension rides
    inside the plan, so building the join must launch no driver job
    (mirrors test_tf_idf_construction_runs_no_job)."""
    probe = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("key"),
        F.timestamp_micros((F.col("id") * 1000).cast("long")).alias("ts"),
    )
    build = probe.withColumn("v", F.lit(1.0))
    sc = spark.sparkContext
    group = "asof-auto-lazy-probe"
    sc.setJobGroup(group, "salt='auto' must not run jobs at plan construction")
    try:
        out = asof_join(probe, build, on="key", ts="ts", salt="auto")
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup(group), \
        "asof_join(salt='auto') triggered a Spark job during plan construction"
    # and the lazy plan still computes the right thing
    assert out.count() == 1000


def test_auto_salt_mixed_keys_match_unsalted(spark):
    """Per-key factors: one hot key (salted) and many cold keys (factor 1)
    in the SAME join — results identical to unsalted, including build-only
    and probe-only keys."""
    hot = spark.range(5000).select(
        F.lit("hot").alias("key"),
        F.timestamp_micros((F.col("id") * 1000).cast("long")).alias("ts"),
    )
    cold = spark.range(200).select(
        (F.col("id") % 50).cast("string").alias("key"),
        F.timestamp_micros((F.col("id") * 7000).cast("long")).alias("ts"),
    )
    probe = hot.unionByName(cold)
    build = probe.sample(0.3, seed=11).withColumn("v", F.col("ts").cast("double"))
    # a build-only key: present in build, absent from probe (factor 1 path)
    build = build.unionByName(
        hot.limit(5).select(F.lit("buildonly").alias("key"), "ts")
        .withColumn("v", F.lit(9.9))
    )
    a = asof_join(probe, build, on="key", ts="ts", salt="auto").toPandas()
    b = asof_join(probe, build, on="key", ts="ts").toPandas()
    key = ["key", "ts", "v"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_auto_salt_null_keys_match_unsalted(spark):
    """Probe/build rows with NULL join keys must survive salt='auto': the
    salt dimension attaches via a LEFT join (an inner join silently drops
    null-key probe rows — nulls never equi-match), and null-key rows on
    both sides coalesce into one bucket so they still pair up exactly as
    the unsalted window (which groups nulls together) would."""
    probe = spark.createDataFrame(
        [("a", ts(1)), (None, ts(1)), (None, ts(5))],
        "key string, ts timestamp",
    )
    build = spark.createDataFrame(
        [("a", ts(0), 1.0), (None, ts(0), 7.0), (None, ts(4), 8.0)],
        "key string, ts timestamp, v double",
    )
    a = asof_join(probe, build, on="key", ts="ts", salt="auto").toPandas()
    b = asof_join(probe, build, on="key", ts="ts").toPandas()
    srt = ["key", "ts"]
    a = a.sort_values(srt, na_position="first").reset_index(drop=True)
    b = b.sort_values(srt, na_position="first").reset_index(drop=True)
    assert len(a) == 3, "salt='auto' dropped null-key probe rows"
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("salt", [None], ids=["union"])
def test_asof_nearest_matches_merge_asof(asof_frames, salt):
    probe, build = asof_frames
    got = _collect_sorted(
        asof_join(probe, build, on="key", ts="ts", direction="nearest", salt=salt)
    )
    expect = _pandas_oracle(probe, build, direction="nearest")
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


@pytest.mark.parametrize("allow_exact", [True, False])
@pytest.mark.parametrize("tol", [None, 300.0])
def test_asof_nearest_fuzz_parity(spark, allow_exact, tol):
    """Randomized parity vs per-key pandas merge_asof, including exact-ts
    collisions and keys present on only one side."""
    import numpy as np

    rng = np.random.default_rng(13)
    n_p, n_b = 300, 200
    probe = pd.DataFrame({
        "key": rng.integers(0, 15, n_p).astype(str),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_p), unit="s"),
        "pid": np.arange(n_p),
    })
    build = pd.DataFrame({
        "key": rng.integers(0, 18, n_b).astype(str),
        "ts": pd.to_datetime(rng.integers(0, 10**6, n_b), unit="s"),
        "val": rng.normal(size=n_b),
    })
    # force exact-timestamp collisions on a quarter of the build rows
    build.loc[:50, ["key", "ts"]] = probe.loc[:50, ["key", "ts"]].values
    sp, sb = spark.createDataFrame(probe), spark.createDataFrame(build)
    got = (
        asof_join(sp, sb, on="key", ts="ts", direction="nearest",
                  allow_exact_matches=allow_exact, tolerance_s=tol)
        .toPandas().sort_values("pid").reset_index(drop=True)
    )
    parts = []
    for k, g in probe.groupby("key"):
        bg = build[build.key == k].sort_values("ts", kind="mergesort")
        parts.append(pd.merge_asof(
            g.sort_values("ts", kind="mergesort"), bg[["ts", "val"]], on="ts",
            direction="nearest", allow_exact_matches=allow_exact,
            tolerance=pd.Timedelta(seconds=tol) if tol else None,
        ))
    expect = pd.concat(parts).sort_values("pid").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["key", "ts", "pid", "val"]], expect[["key", "ts", "pid", "val"]],
        check_dtype=False,
    )


def test_asof_nearest_tie_prefers_backward(spark):
    """Equidistant build rows: pandas (and we) pick the backward one."""
    probe = spark.createDataFrame([("a", ts(10))], "key string, ts timestamp")
    build = spark.createDataFrame(
        [("a", ts(5), 1.0), ("a", ts(15), 2.0)],
        "key string, ts timestamp, val double",
    )
    out = asof_join(probe, build, on="key", ts="ts", direction="nearest").collect()
    assert out[0]["val"] == 1.0


def test_asof_nearest_single_exchange(spark):
    """Both directional fills ride ONE key exchange — nearest costs one
    extra sort per partition, never an extra shuffle; still pure JVM."""
    probe = spark.createDataFrame([("a", 1)], "key string, ts long").selectExpr(
        "key", "timestamp_micros(ts) as ts"
    )
    build = probe.withColumn("v", F.lit(1.0))
    df = asof_join(probe, build, on="key", ts="ts", direction="nearest")
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert plan.count(") Exchange") == 1
    assert plan.count(") Sort") == 2
    for op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert op not in plan


@pytest.mark.parametrize("salt", [4, "auto"])
def test_asof_nearest_salted_matches_unsalted(asof_frames, salt):
    """Salting replicates (never splits) the build timeline, so every
    replica sees both directions' candidates — nearest under salt is
    identical to unsalted."""
    probe, build = asof_frames
    kw = dict(on="key", ts="ts", direction="nearest")
    if salt == "auto":
        kw["salt_target_rows"] = 2  # force the adaptive path to salt
    got = _collect_sorted(asof_join(probe, build, salt=salt, **kw))
    expect = _collect_sorted(asof_join(probe, build, **kw))
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)
