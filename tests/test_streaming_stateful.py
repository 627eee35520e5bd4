"""Streaming forward fill (the as-of state machine on one stream) agrees
with the batch forward_fill on an in-order replay, keeps late rows from
leaking future values across micro-batches, and keeps the input's types."""

import datetime as dt
import math

from pyspark.sql.types import LongType, TimestampNTZType

from htrc_feature_reader_spark.operators import forward_fill
from htrc_feature_reader_spark.streaming.asof import stream_forward_fill

T0 = dt.datetime(2024, 1, 1)


def _mins(m):
    return T0 + dt.timedelta(minutes=m)


def _drain(spark, df, path, name):
    """Write ``df`` as one parquet file (one ordered micro-batch), drain
    ``stream_forward_fill`` over it with availableNow; return the query and
    {(key, ts): filled}."""
    df.coalesce(1).write.parquet(path)
    sdf = stream_forward_fill(spark.readStream.schema(df.schema).parquet(path))
    q = (
        sdf.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["key"], r["ts"]): r["filled"]
        for r in spark.sql(f"select * from {name}").collect()
    }
    return q, got


def test_stream_ffill_matches_batch(spark, tmp_path):
    rows = []
    for k in ("a", "b"):
        for i in range(20):
            val = float(i) if i % 3 == 0 else None
            rows.append((k, _mins(i), val))
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    q, got = _drain(spark, df, str(tmp_path / "stream_in"), "ffill_out")

    batch = forward_fill(df, ["value"], key="key", ts="ts", suffix="_f")
    expect = {(r["key"], r["ts"]): r["value_f"] for r in batch.collect()}
    assert got == expect
    # state carried within the batch: nulls between anchors are filled
    assert got[("a", _mins(4))] == 3.0
    # one scan per micro-batch: the build/probe tagging does not re-read
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(rows)


def test_stream_ffill_null_key_fills_within_its_group(spark, tmp_path):
    """NULL-key rows form their own group, as in batch forward_fill."""
    df = spark.createDataFrame(
        [(None, _mins(0), 1.0), (None, _mins(1), None), ("a", _mins(0), None)],
        "key string, ts timestamp, value double",
    )
    _, got = _drain(spark, df, str(tmp_path / "ev"), "ffill_null_key")

    batch = forward_fill(df, ["value"], key="key", ts="ts", suffix="_f")
    assert got == {(r["key"], r["ts"]): r["value_f"] for r in batch.collect()}
    assert got == {(None, _mins(0)): 1.0, (None, _mins(1)): 1.0, ("a", _mins(0)): None}


def test_stream_ffill_late_rows_never_see_future(spark, tmp_path):
    """Three micro-batches: minutes 0 and 10; then late minutes 5 (valued)
    and 3 (null); then minute 12 (null). The late null row takes the value
    at minute 0, not minute 10 from its future; the late valued row
    reports its own value; and it does not roll the state back, so
    minute 12 still takes minute 10's value."""
    schema = "key string, ts timestamp, value double"
    path = str(tmp_path / "ev")
    batches = [
        [("a", _mins(0), 1.0), ("a", _mins(10), 10.0)],
        [("a", _mins(5), 5.0), ("a", _mins(3), None)],
        [("a", _mins(12), None)],
    ]
    spark.createDataFrame(batches[0], schema).coalesce(1).write.parquet(path)
    sdf = stream_forward_fill(spark.readStream.schema(schema).parquet(path))
    q = sdf.writeStream.outputMode("append").format("memory").queryName("ffill_late").start()
    try:
        q.processAllAvailable()
        for rows in batches[1:]:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)
            q.processAllAvailable()
        got = {r["ts"]: r["filled"] for r in spark.sql("select * from ffill_late").collect()}
    finally:
        q.stop()
    assert got == {
        _mins(0): 1.0, _mins(10): 10.0, _mins(5): 5.0, _mins(3): 1.0, _mins(12): 10.0
    }


def test_stream_ffill_keeps_key_and_ts_types(spark, tmp_path):
    """A long key and a TIMESTAMP_NTZ ts pass through with their types."""
    df = spark.createDataFrame(
        [(7, _mins(0), 2.0), (7, _mins(1), None)],
        "key long, ts timestamp_ntz, value double",
    )
    q, got = _drain(spark, df, str(tmp_path / "ev"), "ffill_types")
    out = spark.table("ffill_types").schema
    assert isinstance(out["key"].dataType, LongType)
    assert isinstance(out["ts"].dataType, TimestampNTZType)
    assert got == {(7, _mins(0)): 2.0, (7, _mins(1)): 2.0}


def test_stream_ffill_keeps_nan_apart_from_null(spark, tmp_path):
    """NaN is a value, not a gap: minutes 0 = 1.0, 1 = NaN, 2 = NULL fill
    to 1.0, NaN, NaN as in batch forward_fill, and minute 1 reports its own
    value as NaN. Arrow merges NaN into NULL at the Python boundary, so
    the stream must carry NaN past it."""
    nan = float("nan")
    df = spark.createDataFrame(
        [("a", _mins(0), 1.0), ("a", _mins(1), nan), ("a", _mins(2), None)],
        "key string, ts timestamp, value double",
    )
    _drain(spark, df, str(tmp_path / "ev"), "ffill_nan")
    canon = lambda v: "NaN" if v is not None and math.isnan(v) else v  # noqa: E731
    got = {
        r["ts"]: (canon(r["value"]), canon(r["filled"]))
        for r in spark.sql("select * from ffill_nan").collect()
    }
    batch = forward_fill(df, ["value"], key="key", ts="ts", suffix="_f")
    assert got == {
        r["ts"]: (canon(r["value"]), canon(r["value_f"])) for r in batch.collect()
    }
    assert got == {
        _mins(0): (1.0, 1.0), _mins(1): ("NaN", "NaN"), _mins(2): (None, "NaN")
    }
