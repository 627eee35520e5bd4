"""Streaming as-of join agrees with the batch operator on an in-order
replay, honors the exact-match tie rule and tolerance, and carries state
across micro-batches."""

import datetime as dt
import math

from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators import asof_join
from htrc_feature_reader_spark.streaming.asof import stream_asof_join

T0 = dt.datetime(2024, 1, 1)


def _mins(m):
    return T0 + dt.timedelta(minutes=m)


def _write_streams(spark, tmp_path, build_rows, probe_rows):
    build = spark.createDataFrame(build_rows, "key string, ts timestamp, price double")
    probe = spark.createDataFrame(probe_rows, "key string, ts timestamp, qty long")
    bpath, ppath = str(tmp_path / "build"), str(tmp_path / "probe")
    build.coalesce(1).write.parquet(bpath)
    probe.coalesce(1).write.parquet(ppath)
    bs = spark.readStream.schema(build.schema).parquet(bpath)
    ps = spark.readStream.schema(probe.schema).parquet(ppath)
    return build, probe, bs, ps


def test_stream_asof_matches_batch(spark, tmp_path):
    build_rows = [
        ("a", _mins(m), float(m)) for m in (0, 5, 10, 20)
    ] + [("b", _mins(m), 100.0 + m) for m in (3, 9)]
    probe_rows = [
        ("a", _mins(m), m) for m in (1, 5, 7, 19, 25)
    ] + [("b", _mins(m), m) for m in (2, 9, 30)]
    build, probe, bs, ps = _write_streams(spark, tmp_path, build_rows, probe_rows)

    out = stream_asof_join(ps, bs, on="key", ts="ts")
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("asof_out").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["key"], r["ts"]): (r["qty"], r["price"])
        for r in spark.sql("select * from asof_out").collect()
    }

    batch = asof_join(probe, build, on="key", ts="ts")
    expect = {(r["key"], r["ts"]): (r["qty"], r["price"]) for r in batch.collect()}
    assert got == expect
    # exact-match tie rule: probe at 5 sees the build row at 5
    assert got[("a", _mins(5))] == (5, 5.0)
    # before any build row -> null
    assert got[("b", _mins(2))] == (2, None)


def test_stream_asof_tolerance_and_no_exact(spark, tmp_path):
    build_rows = [("a", _mins(0), 1.0), ("a", _mins(10), 2.0)]
    probe_rows = [("a", _mins(10), 1), ("a", _mins(30), 2)]
    build, probe, bs, ps = _write_streams(spark, tmp_path, build_rows, probe_rows)

    out = stream_asof_join(
        ps, bs, on="key", ts="ts", tolerance_s=600.0, allow_exact_matches=False
    )
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("asof_tol_out").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["key"], r["ts"]): r["price"]
        for r in spark.sql("select * from asof_tol_out").collect()
    }
    batch = asof_join(
        probe, build, on="key", ts="ts",
        tolerance_s=600.0, allow_exact_matches=False,
    )
    expect = {(r["key"], r["ts"]): r["price"] for r in batch.collect()}
    assert got == expect
    # exact match excluded -> falls back to the earlier row, 10 min = in tol
    assert got[("a", _mins(10))] == 1.0
    # 20 min past the last build row > 600 s tolerance -> null
    assert got[("a", _mins(30))] is None


def test_stream_asof_null_and_nan_cells_match_batch(spark, tmp_path):
    """A build row's NULL cell is its value, as in batch: the probe at 15
    takes minute 10's NULL, not minute 0's 1.0; minute 20's NaN stays NaN
    (asserted on Spark rows; pandas cannot tell NULL from NaN)."""
    nan = float("nan")
    build_rows = [("a", _mins(0), 1.0), ("a", _mins(10), None), ("a", _mins(20), nan)]
    probe_rows = [("a", _mins(m), m) for m in (5, 15, 25)]
    build, probe, bs, ps = _write_streams(spark, tmp_path, build_rows, probe_rows)

    out = stream_asof_join(ps, bs, on="key", ts="ts")
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("asof_null_cells").trigger(availableNow=True).start()
    )
    q.awaitTermination()

    def _canon(rows):
        return {
            r["qty"]: "NaN" if r["price"] is not None and math.isnan(r["price"])
            else r["price"]
            for r in rows
        }

    got = _canon(spark.sql("select * from asof_null_cells").collect())
    assert got == _canon(asof_join(probe, build, on="key", ts="ts").collect())
    assert got == {5: 1.0, 15: None, 25: "NaN"}


def test_stream_asof_state_across_micro_batches(spark, tmp_path):
    """A probe row in a later micro-batch is served from state built in an
    earlier one — the cross-batch behavior memory sinks can't fake."""
    build = spark.createDataFrame(
        [("a", _mins(0), 7.0)], "key string, ts timestamp, price double"
    )
    probe1 = spark.createDataFrame(
        [("a", _mins(1), 1)], "key string, ts timestamp, qty long"
    )
    bpath, ppath = str(tmp_path / "build"), str(tmp_path / "probe")
    build.coalesce(1).write.parquet(bpath)
    probe1.coalesce(1).write.parquet(ppath)
    bs = spark.readStream.schema(build.schema).parquet(bpath)
    ps = spark.readStream.schema(probe1.schema).parquet(ppath)

    out = stream_asof_join(ps, bs, on="key", ts="ts")
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("asof_live").start()
    )
    try:
        q.processAllAvailable()
        # second micro-batch: probe only — build values must come from state
        spark.createDataFrame(
            [("a", _mins(2), 2)], "key string, ts timestamp, qty long"
        ).coalesce(1).write.mode("append").parquet(ppath)
        q.processAllAvailable()
        got = {
            (r["key"], r["ts"]): r["price"]
            for r in spark.sql("select * from asof_live").collect()
        }
    finally:
        q.stop()
    assert got == {("a", _mins(1)): 7.0, ("a", _mins(2)): 7.0}


def test_stream_asof_late_probe_never_sees_future(spark, tmp_path):
    """A probe arriving late across micro-batches (ts before the state's
    newest build row) must NOT be enriched with that future value — it
    falls back to the strictly-earlier state row, or null-fills when every
    retained build row is in its future (zero temporal leakage)."""
    build = spark.createDataFrame(
        [("a", _mins(0), 1.0), ("a", _mins(10), 2.0), ("b", _mins(10), 9.0)],
        "key string, ts timestamp, price double",
    )
    probe1 = spark.createDataFrame(
        [("a", _mins(11), 1)], "key string, ts timestamp, qty long"
    )
    bpath, ppath = str(tmp_path / "build"), str(tmp_path / "probe")
    build.coalesce(1).write.parquet(bpath)
    probe1.coalesce(1).write.parquet(ppath)
    bs = spark.readStream.schema(build.schema).parquet(bpath)
    ps = spark.readStream.schema(probe1.schema).parquet(ppath)

    # tolerance present: without the PIT guard the negative delta would
    # always pass the (unsigned) tolerance check and leak the future value
    out = stream_asof_join(ps, bs, on="key", ts="ts", tolerance_s=3600.0)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("asof_pit").start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [("a", _mins(5), 2),   # late: before state's last_ts=10 -> prev (t=0)
             ("b", _mins(5), 3)],  # late: only retained build is in the future -> null
            "key string, ts timestamp, qty long",
        ).coalesce(1).write.mode("append").parquet(ppath)
        q.processAllAvailable()
        got = {
            (r["key"], r["ts"]): r["price"]
            for r in spark.sql("select * from asof_pit").collect()
        }
    finally:
        q.stop()
    assert got[("a", _mins(11))] == 2.0   # in-order probe: newest build
    assert got[("a", _mins(5))] == 1.0    # late probe: strictly-earlier row
    assert got[("b", _mins(5))] is None   # late probe, no earlier row: null


import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_key = st.sampled_from(["a", "b", "c"])
_minutes = st.integers(min_value=0, max_value=30)


@st.composite
def _stream_frames(draw):
    build = draw(st.lists(st.tuples(_key, _minutes, st.floats(-10, 10, allow_nan=False)),
                          min_size=0, max_size=20))
    probe = draw(st.lists(st.tuples(_key, _minutes, st.integers(0, 99)),
                          min_size=1, max_size=20))
    # unique build ts per key: tie among equal build timestamps is
    # input-order-defined in both engines, not a semantics difference
    seen = set()
    build = [r for r in build
             if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))]
    return build, probe


_fuzz_n = [0]


@pytest.mark.slow
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frames=_stream_frames())
def test_stream_asof_property_matches_batch(spark, tmp_path_factory, frames):
    build_rows, probe_rows = frames
    _fuzz_n[0] += 1
    tag = _fuzz_n[0]
    tmp = tmp_path_factory.mktemp(f"sasof{tag}")
    build = spark.createDataFrame(
        [(k, _mins(m), v) for k, m, v in build_rows] or [("zz", _mins(0), 0.0)],
        "key string, ts timestamp, price double",
    )
    probe = spark.createDataFrame(
        [(k, _mins(m), q) for k, m, q in probe_rows],
        "key string, ts timestamp, qty long",
    )
    bpath, ppath = str(tmp / "b"), str(tmp / "p")
    build.coalesce(1).write.parquet(bpath)
    probe.coalesce(1).write.parquet(ppath)
    bs = spark.readStream.schema(build.schema).parquet(bpath)
    ps = spark.readStream.schema(probe.schema).parquet(ppath)
    out = stream_asof_join(ps, bs, on="key", ts="ts")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName(f"sasof_fuzz_{tag}").trigger(availableNow=True).start())
    q.awaitTermination()
    def _canon(rows):  # None-safe sort key (duplicate probe rows possible)
        return sorted(
            ((r["key"], r["ts"], r["qty"], r["price"]) for r in rows),
            key=lambda t: (t[0], t[1], t[2], t[3] is None, t[3] or 0.0),
        )

    got = _canon(spark.sql(f"select * from sasof_fuzz_{tag}").collect())
    expect = _canon(asof_join(probe, build, on="key", ts="ts").collect())
    assert got == expect


def test_stream_asof_single_shuffle_plan(spark, tmp_path):
    """Both streams share ONE exchange (the state operator's key hash) —
    the same single-shuffle shape as the batch union-window strategy."""
    build, probe, bs, ps = _write_streams(
        spark, tmp_path, [("a", _mins(0), 1.0)], [("a", _mins(1), 1)]
    )
    out = stream_asof_join(ps, bs, on="key", ts="ts")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("asof_plan").trigger(availableNow=True).start())
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    assert plan.count("Exchange") == 1
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    assert "Union" in plan


def test_stream_asof_late_build_row_does_not_regress_state(spark, tmp_path):
    """A build row arriving out-of-order ACROSS micro-batches (older than
    last-known state) is dropped — overwriting would serve probes stale
    values and could leak a future value via the prev slot."""
    bpath, ppath = str(tmp_path / "build"), str(tmp_path / "probe")
    spark.createDataFrame(
        [("a", _mins(60), 5.0)], "key string, ts timestamp, price double"
    ).coalesce(1).write.parquet(bpath)
    spark.createDataFrame(
        [("a", _mins(61), 0)], "key string, ts timestamp, qty long"
    ).coalesce(1).write.parquet(ppath)
    bs = spark.readStream.schema("key string, ts timestamp, price double").parquet(bpath)
    ps = spark.readStream.schema("key string, ts timestamp, qty long").parquet(ppath)
    out = stream_asof_join(ps, bs, on="key", ts="ts")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("asof_late").start())
    try:
        q.processAllAvailable()
        # batch 2: a LATE build row, older than state
        spark.createDataFrame(
            [("a", _mins(0), 3.0)], "key string, ts timestamp, price double"
        ).coalesce(1).write.mode("append").parquet(bpath)
        q.processAllAvailable()
        # batch 3: probe after everything — must see 5.0, not the late 3.0
        spark.createDataFrame(
            [("a", _mins(120), 1)], "key string, ts timestamp, qty long"
        ).coalesce(1).write.mode("append").parquet(ppath)
        q.processAllAvailable()
        got = {
            (r["key"], r["ts"]): r["price"]
            for r in spark.sql("select * from asof_late").collect()
        }
    finally:
        q.stop()
    assert got[("a", _mins(120))] == 5.0


def test_stream_asof_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill the query after the build micro-batch; a NEW query on the
    same checkpoint must serve later probes from RESTORED state (the
    durability contract a memory sink cannot show — this uses a parquet
    sink + checkpointLocation)."""
    bpath, ppath = str(tmp_path / "build"), str(tmp_path / "probe")
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")
    spark.createDataFrame(
        [("a", _mins(0), 7.0)], "key string, ts timestamp, price double"
    ).coalesce(1).write.parquet(bpath)
    spark.createDataFrame(
        [("a", _mins(1), 1)], "key string, ts timestamp, qty long"
    ).coalesce(1).write.parquet(ppath)

    def start_query():
        bs = spark.readStream.schema(
            "key string, ts timestamp, price double").parquet(bpath)
        ps = spark.readStream.schema(
            "key string, ts timestamp, qty long").parquet(ppath)
        out = stream_asof_join(ps, bs, on="key", ts="ts")
        return (out.writeStream.outputMode("append").format("parquet")
                .option("path", sink).option("checkpointLocation", ckpt)
                .start())

    q = start_query()
    q.processAllAvailable()
    q.stop()

    # new data arrives while no query is running; the probe's answer can
    # only come from state restored off the checkpoint
    spark.createDataFrame(
        [("a", _mins(2), 2)], "key string, ts timestamp, qty long"
    ).coalesce(1).write.mode("append").parquet(ppath)

    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()

    got = {
        (r["key"], r["ts"]): r["price"]
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {("a", _mins(1)): 7.0, ("a", _mins(2)): 7.0}


def test_stream_asof_late_probe_exact_ts_excluded(spark, tmp_path):
    """allow_exact_matches=False + a late probe whose ts EQUALS the state's
    strictly-earlier (prev) row: the prev fallback must also honor the
    exact-match exclusion. Chained fallbacks used to leak here — last_ts
    failed the exact rule, the PIT guard then substituted a prev row that
    itself sat exactly at the probe ts."""
    build = spark.createDataFrame(
        [("a", _mins(5), 1.0), ("a", _mins(10), 2.0)],
        "key string, ts timestamp, price double",
    )
    probe1 = spark.createDataFrame(
        [("a", _mins(11), 1)], "key string, ts timestamp, qty long"
    )
    bpath, ppath = str(tmp_path / "build"), str(tmp_path / "probe")
    build.coalesce(1).write.parquet(bpath)
    probe1.coalesce(1).write.parquet(ppath)
    bs = spark.readStream.schema(build.schema).parquet(bpath)
    ps = spark.readStream.schema(probe1.schema).parquet(ppath)

    out = stream_asof_join(ps, bs, on="key", ts="ts", allow_exact_matches=False)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("asof_exact_late").start()
    )
    try:
        q.processAllAvailable()  # state: last=(10, 2.0), prev=(5, 1.0)
        spark.createDataFrame(
            [("a", _mins(5), 2),   # == prev ts: must null-fill, not serve 1.0
             ("a", _mins(7), 3)],  # prev (t=5) is strictly earlier: serves 1.0
            "key string, ts timestamp, qty long",
        ).coalesce(1).write.mode("append").parquet(ppath)
        q.processAllAvailable()
        got = {
            (r["key"], r["ts"]): r["price"]
            for r in spark.sql("select * from asof_exact_late").collect()
        }
    finally:
        q.stop()
    assert got[("a", _mins(11))] == 2.0  # in-order: strictly-earlier newest
    assert got[("a", _mins(5))] is None  # exact-ts prev excluded
    assert got[("a", _mins(7))] == 1.0   # strictly-earlier prev served
