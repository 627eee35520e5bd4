"""Incremental digest-store dedup: ingest rounds, idempotency, crash
convergence, compaction."""

import os

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.sources.digest_store import (
    append_digests,
    compact_digest_store,
    dedup_against_store,
    ingest_batch,
    read_digest_store,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_first_ingest_sees_empty_store(spark, tmp_path):
    p = str(tmp_path / "store")
    out = ingest_batch(_docs(spark, [(1, "a"), (2, "b"), (3, "a")]), p)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]  # 3 dups 1
    assert read_digest_store(spark, p).count() == 2


def test_cross_batch_dedup_and_idempotent_reingest(spark, tmp_path):
    p = str(tmp_path / "store")
    ingest_batch(_docs(spark, [(1, "a"), (2, "b")]), p)
    # batch 2: one seen content (under a NEW id), one new
    out2 = ingest_batch(_docs(spark, [(10, "a"), (11, "c")]), p)
    assert [r["doc_id"] for r in out2.collect()] == [11]
    # re-ingesting an already recorded batch is a no-op
    out3 = ingest_batch(_docs(spark, [(1, "a"), (2, "b"), (11, "c")]), p)
    assert out3.count() == 0
    assert read_digest_store(spark, p).count() == 3


def test_survivor_rows_carry_digest_and_all_columns(spark, tmp_path):
    store = read_digest_store(spark, str(tmp_path / "none"))
    out = dedup_against_store(_docs(spark, [(5, "x")]), store)
    assert set(out.columns) == {"doc_id", "text", "digest"}
    assert out.first()["digest"] is not None


def test_orphan_shard_converges_not_corrupts(spark, tmp_path):
    """A crashed ingest that appended digests but lost its output only
    re-drops the same content later — never keeps a duplicate."""
    p = str(tmp_path / "store")
    b1 = _docs(spark, [(1, "a")])
    append_digests(
        dedup_against_store(b1, read_digest_store(spark, p)), p)  # 'crash'
    out = ingest_batch(_docs(spark, [(2, "a"), (3, "z")]), p)
    assert [r["doc_id"] for r in out.collect()] == [3]


def test_compact_store(spark, tmp_path):
    p = str(tmp_path / "store")
    for i in range(4):  # 4 shards, one duplicated digest across shards
        append_digests(
            _docs(spark, [(i, "same")]).withColumn(
                "digest", F.md5(F.col("text").cast("binary"))), p)
    assert read_digest_store(spark, p).count() == 4
    compact_digest_store(spark, p)
    rows = read_digest_store(spark, p).collect()
    assert len(rows) == 1 and rows[0]["keep_id"] == 0
    # still a functioning store after compaction
    assert ingest_batch(_docs(spark, [(9, "same"), (10, "new")]), p).count() == 1


def test_compaction_jobs_are_labelled(spark, tmp_path, job_labels):
    """The pin that reads the store whole and the overwrite that replaces
    it run under ``compact_shard_store:`` descriptions."""
    p = str(tmp_path / "store")
    for i in range(2):
        append_digests(
            _docs(spark, [(i, "same")]).withColumn(
                "digest", F.md5(F.col("text").cast("binary"))), p)
    descs = job_labels(lambda: compact_digest_store(spark, p))
    assert set(descs) == {"compact_shard_store: pin", "compact_shard_store: overwrite"}, descs
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_string_id_rejected_eagerly(spark, tmp_path):
    """A string doc_id must raise BEFORE any write: with ANSI off it
    would silently store keep_id NULL and the next compact would collapse
    the whole history to one row (silent permanent dedup-history loss)."""
    import os

    p = str(tmp_path / "store")
    docs = spark.createDataFrame([("htid.1", "a")], "doc_id string, text string")
    with pytest.raises(TypeError, match="integral id"):
        ingest_batch(docs, p)
    with pytest.raises(TypeError, match="integral id"):
        append_digests(docs.withColumn("digest", F.md5("text")), p)
    assert not os.path.exists(p)  # nothing landed


def test_compact_stores_job_lineage_and_resume(spark, tmp_path):
    """scripts/compact_stores_job.py: manifest records shard/row counts
    before/after; a store already compacted under the snapshot is
    skipped; a torn run (manifest never published) re-compacts
    idempotently."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "compact_stores_job",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "compact_stores_job.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    p = str(tmp_path / "store")
    ingest_batch(_docs(spark, [(1, "a"), (2, "b")]), p)
    ingest_batch(_docs(spark, [(3, "c")]), p)
    assert job._count_shards(spark, p) >= 2

    m1 = job.compact_one(spark, "digest", p, read_digest_store,
                         compact_digest_store, "snapX")
    assert m1["status"] == "complete" and m1["shards_before"] >= 2
    assert m1["rows_before"] == m1["rows_after"] == 3
    assert m1["shards_after"] < m1["shards_before"]
    # manifest lives OUTSIDE the store dir (the compaction overwrite
    # replaces the dir wholesale)
    assert os.path.exists(p + ".compact.json")

    # same snapshot: skipped (manifest returned unchanged)
    m2 = job.compact_one(spark, "digest", p, read_digest_store,
                         compact_digest_store, "snapX")
    assert m2 == m1
    # torn run: manifest missing -> recompact, still 3 rows
    os.remove(p + ".compact.json")
    m3 = job.compact_one(spark, "digest", p, read_digest_store,
                         compact_digest_store, "snapX")
    assert m3["rows_after"] == 3 and m3["status"] == "complete"
    # the store still functions post-compaction
    assert ingest_batch(_docs(spark, [(9, "a"), (10, "z")]), p).count() == 1
