"""Streaming tumbling-window rollup: batch equivalence inside the
watermark, and the append-mode late-data contract (an event later than
the watermark is dropped, never retro-mutating an emitted window)."""

import datetime as dt

from pyspark.sql import functions as F

from htrc_feature_reader_spark.streaming.sessionize import stream_windowed_rollup

T0 = dt.datetime(2024, 1, 1)


def _day(d, h=0):
    return T0 + dt.timedelta(days=d, hours=h)


def test_windowed_rollup_matches_batch(spark, tmp_path):
    rows = [("u1", _day(0, h), 1.0 * h) for h in (1, 5, 9)] + [
        ("u1", _day(1, 2), 7.0),
        ("u2", _day(0, 3), 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    path = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(path)

    out = stream_windowed_rollup(
        spark.readStream.schema(df.schema).parquet(path), value="value"
    )
    q = (out.writeStream.outputMode("complete").format("memory")
         .queryName("roll_out").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {
        (r["user_id"], r["win_start"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from roll_out").collect()
    }
    batch = (
        df.groupBy("user_id", F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .select("user_id", F.col("window.start").alias("s"), "n", "tv")
    )
    expect = {(r["user_id"], r["s"]): (r["n"], r["tv"]) for r in batch.collect()}
    assert got == expect


def test_windowed_rollup_append_drops_late_beyond_watermark(spark, tmp_path):
    """Append mode: day-0's window emits once the watermark passes its
    end; a later micro-batch's day-0 event (beyond the watermark) is
    dropped and the emitted count never changes."""
    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [("u1", _day(0, 1), 1.0), ("u1", _day(0, 2), 1.0),
         ("u1", _day(2, 0), 1.0)],  # day-2 event pushes watermark past day-0
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.parquet(path)

    out = stream_windowed_rollup(
        spark.readStream.schema("user_id string, ts timestamp, value double").parquet(path),
        watermark="1 hour",
    )
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("roll_late").start())
    try:
        q.processAllAvailable()
        # LATE day-0 event, far beyond watermark (now ~day-2 minus 1h)
        spark.createDataFrame(
            [("u1", _day(0, 5), 9.0)],
            "user_id string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(path)
        q.processAllAvailable()
        # day-4 event finalizes day-2's window too
        spark.createDataFrame(
            [("u1", _day(4, 0), 1.0)],
            "user_id string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(path)
        q.processAllAvailable()
        got = {
            r["win_start"]: r["n_events"]
            for r in spark.sql("select * from roll_late").collect()
        }
    finally:
        q.stop()
    assert got[_day(0)] == 2  # late event NOT counted
    assert got[_day(2)] == 1
