"""Streaming sessionization agrees with the batch gap semantics."""

import datetime as dt

from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators import sessionize
from htrc_feature_reader_spark.streaming.sessionize import stream_session_counts

T0 = dt.datetime(2024, 1, 1)


def test_stream_sessions_match_batch(spark, tmp_path):
    rows = []
    for m in (0, 5, 10, 120, 125, 400):
        rows.append(("u1", T0 + dt.timedelta(minutes=m), 1.0))
    for m in (0, 300):
        rows.append(("u2", T0 + dt.timedelta(minutes=m), 1.0))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    path = str(tmp_path / "events")
    df.write.parquet(path)

    sdf = stream_session_counts(
        spark.readStream.schema(df.schema).parquet(path),
        key="user_id", ts="ts", gap="30 minutes",
    )
    q = (
        sdf.writeStream.outputMode("complete").format("memory")
        .queryName("sess_test").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.sql("select * from sess_test").collect()

    # batch reference: same gap
    batch = sessionize(df, key="user_id", ts="ts", gap_s=1800.0)
    batch_sessions = (
        batch.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("start"))
        .collect()
    )
    got_set = {(r["user_id"], r["session_start"], r["n_events"]) for r in got}
    batch_set = {(r["user_id"], r["start"], r["n_events"]) for r in batch_sessions}
    assert got_set == batch_set
    assert len(got_set) == 5  # u1: 3 sessions, u2: 2
