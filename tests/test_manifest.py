"""Checkpoint/lineage manifests: write, resume-after-partial-failure,
verification, snapshot mismatch refusal."""

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.plans import (
    read_manifest,
    resume_write,
    verify_output,
)


@pytest.fixture()
def df(spark):
    return spark.range(1000).select(
        (F.col("id") % 10).cast("string").alias("bucket"),
        F.col("id").alias("v"),
        (F.col("id") * 3).alias("w"),
    )


def test_write_and_verify(spark, df, tmp_path):
    path = str(tmp_path / "out")
    manifest = resume_write(df, path, "bucket", snapshot_id="snap1")
    assert len(manifest["partitions"]) == 10
    assert all(p["row_count"] == 100 for p in manifest["partitions"].values())
    assert verify_output(spark, path) == []
    back = spark.read.parquet(path)
    assert back.count() == 1000


def test_resume_completes_missing_partitions(spark, df, tmp_path):
    path = str(tmp_path / "out")
    # simulate a job that died after 6 of 10 partitions
    partial = df.filter(F.col("bucket").isin([str(i) for i in range(6)]))
    resume_write(partial, path, "bucket", snapshot_id="snap1")
    assert len(read_manifest(path)["partitions"]) == 6

    manifest = resume_write(df, path, "bucket", snapshot_id="snap1")
    assert len(manifest["partitions"]) == 10
    assert spark.read.parquet(path).count() == 1000
    assert verify_output(spark, path) == []

    # resume again: no-op, still clean
    manifest2 = resume_write(df, path, "bucket", snapshot_id="snap1")
    assert manifest2 == manifest
    assert spark.read.parquet(path).count() == 1000


def test_resume_idempotent_after_crash_window(spark, df, tmp_path):
    """Crash between data landing and the manifest update must not
    duplicate rows on the next resume: the partition whose parquet exists
    but whose manifest entry is missing gets REPLACED (dynamic partition
    overwrite), not appended to."""
    path = str(tmp_path / "out")
    partial = df.filter(F.col("bucket").isin([str(i) for i in range(6)]))
    resume_write(partial, path, "bucket", snapshot_id="snap1")
    # simulate the crash window: partition 6's data landed, manifest didn't
    df.filter(F.col("bucket") == "6").write.mode("append").partitionBy(
        "bucket").parquet(path)
    assert spark.read.parquet(path).count() == 700
    assert len(read_manifest(path)["partitions"]) == 6

    resume_write(df, path, "bucket", snapshot_id="snap1")
    assert spark.read.parquet(path).count() == 1000  # not 1100
    assert verify_output(spark, path) == []


def test_resume_refuses_snapshot_mismatch(spark, df, tmp_path):
    path = str(tmp_path / "out")
    resume_write(df.limit(100), path, "bucket", snapshot_id="snap1")
    with pytest.raises(ValueError, match="snapshot"):
        resume_write(df, path, "bucket", snapshot_id="snap2")


def test_verify_detects_corruption(spark, df, tmp_path):
    path = str(tmp_path / "out")
    resume_write(df, path, "bucket", snapshot_id="snap1")
    # corrupt: delete one partition directory
    import shutil

    shutil.rmtree(f"{path}/bucket=3")
    problems = verify_output(spark, path)
    assert any("3" in p for p in problems)


def test_digest_invariant_to_partitioning(spark, df, tmp_path):
    from htrc_feature_reader_spark.plans import partition_digests

    a = {r["partition"]: (r["row_count"], r["digest"])
         for r in partition_digests(df, "bucket").collect()}
    b = {r["partition"]: (r["row_count"], r["digest"])
         for r in partition_digests(df.repartition(37), "bucket").collect()}
    assert a == b


def test_repair_write_heals_out_of_band_damage(spark, df, tmp_path):
    """Data deleted or corrupted AFTER its manifest entry landed is the
    failure mode resume_write can't see (it trusts the manifest);
    repair_write diffs manifest vs data and rewrites exactly the damaged
    partitions."""
    import shutil

    from htrc_feature_reader_spark.plans import repair_write

    path = str(tmp_path / "out")
    resume_write(df, path, "bucket", snapshot_id="snap1")
    shutil.rmtree(f"{path}/bucket=3")  # out-of-band loss
    shutil.rmtree(f"{path}/bucket=7")
    # resume alone does NOT heal: manifest says both are done
    resume_write(df, path, "bucket", snapshot_id="snap1")
    assert len(verify_output(spark, path)) == 2

    repair_write(df, path, "bucket", snapshot_id="snap1")
    assert verify_output(spark, path) == []
    assert spark.read.parquet(path).count() == 1000


def test_repair_write_heals_total_data_loss(spark, df, tmp_path):
    """All data gone, only _manifest.json left: repair must classify every
    partition as missing and rebuild, not crash on an unreadable dir."""
    import shutil

    from htrc_feature_reader_spark.plans import repair_write

    path = str(tmp_path / "out")
    resume_write(df, path, "bucket", snapshot_id="snap1")
    for d in list(__import__("os").listdir(path)):
        if d.startswith("bucket="):
            shutil.rmtree(f"{path}/{d}")
    repair_write(df, path, "bucket", snapshot_id="snap1")
    assert verify_output(spark, path) == []
    assert spark.read.parquet(path).count() == 1000


def test_verify_with_type_inferrable_partition_values(spark, tmp_path):
    """Partition values that LOOK numeric after directory round-trip
    (zero-padded '002' → inferred int 2) must still verify clean: the
    manifest keys by the written string, so verify_output reads with
    partition type inference off. Regression for the shards_job layout
    (lexicographic bucket names for loader name-order replay)."""
    path = str(tmp_path / "out")
    df = spark.range(300).select(
        F.lpad((F.col("id") % 4).cast("string"), 3, "0").alias("bucket"),
        F.col("id").alias("v"),
    )
    resume_write(df, path, "bucket", snapshot_id="snap1")
    assert sorted(read_manifest(path)["partitions"]) == [
        "000", "001", "002", "003"]
    assert verify_output(spark, path) == []


def test_resume_empty_input_writes_manifest(spark, df, tmp_path):
    # zero todo partitions -> no parquet write ever creates the dir; the
    # manifest (with its snapshot id) must still land, and a re-resume
    # must see a completed empty run rather than crash on a missing dir
    path = str(tmp_path / "out_empty")
    empty = df.filter(F.lit(False))
    manifest = resume_write(empty, path, "bucket", snapshot_id="snapE")
    assert manifest["partitions"] == {}
    assert read_manifest(path)["snapshot_id"] == "snapE"
    again = resume_write(empty, path, "bucket", snapshot_id="snapE")
    assert again["partitions"] == {}
