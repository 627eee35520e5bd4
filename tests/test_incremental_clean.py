"""Incremental clean_corpus face (ingest_clean_batch): one-shot
equivalence, cross-batch suppression through both stores, config guards,
fixed stop-shingle lists."""

import random

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.pipeline import (
    CleanConfig,
    clean_corpus,
    ingest_clean_batch,
)
from htrc_feature_reader_spark.sources.digest_store import read_digest_store
from htrc_feature_reader_spark.sources.signature_store import (
    read_signature_store,
)

_SCHEMA = "doc_id long, text string"
# stop_shingle_frac=1.0 neutralizes the one-shot corpus-frequency cap
# (strictly-greater-than comparison drops nothing), matching the
# incremental path's no-frequency-cap rule so the two are comparable
_CFG = CleanConfig(stop_shingle_frac=1.0, near_dup_threshold=0.25)


def _corpus(spark, n=24, seed=11):
    """Quality failures + exact dups + near dups + unique docs, spread so
    duplicate families span the 3 test batches."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    base = " ".join(rng.choice(vocab) for _ in range(30))
    rows = []
    for i in range(n):
        if i % 8 == 3:
            text = "tiny"  # fails min_chars/min_tokens
        elif i % 6 == 1:
            text = base  # exact-dup family
        elif i % 6 == 2:
            text = base + f" extra{i}"  # near-dup family
        else:
            text = " ".join(rng.choice(vocab) for _ in range(20 + i % 5))
        rows.append((i, text))
    return spark.createDataFrame(rows, _SCHEMA)


def test_incremental_equals_one_shot_clean(spark, tmp_path):
    docs = _corpus(spark)
    expected = {r["doc_id"] for r in clean_corpus(docs, _CFG).collect()}
    assert 0 < len(expected) < 24  # both filters and dedup actually fire

    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")
    kept = set()
    for lo in (0, 8, 16):  # ascending-id batches
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 8))
        out = ingest_clean_batch(b, dp, sp, _CFG)
        kept |= {r["doc_id"] for r in out.collect()}
    assert kept == expected


def test_cross_batch_exact_and_near_suppression(spark, tmp_path):
    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")
    base = " ".join(f"word{i}" for i in range(20))
    b1 = spark.createDataFrame([(1, base)], _SCHEMA)
    assert ingest_clean_batch(b1, dp, sp, _CFG).count() == 1
    # batch 2: exact copy + near copy under NEW ids, plus one novel doc
    b2 = spark.createDataFrame(
        [(10, base), (11, base + " tail"),
         (12, " ".join(f"other{i}" for i in range(20)))], _SCHEMA)
    out2 = ingest_clean_batch(b2, dp, sp, _CFG)
    assert [r["doc_id"] for r in out2.collect()] == [12]


def test_every_batch_job_is_labelled(spark, tmp_path, job_labels):
    """Each job an ingest batch launches (pins, out write, store appends;
    first batch against empty stores, second against recorded ones)
    carries an ``ingest_clean_batch:`` description."""
    docs = _corpus(spark)
    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")

    def two_batches():
        for lo in (0, 12):
            b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 12))
            ingest_clean_batch(b, dp, sp, _CFG, out_path=str(tmp_path / "out"))

    descs = job_labels(two_batches)
    assert descs
    assert all(d and d.startswith("ingest_clean_batch: ") for d in descs), descs
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_quality_failures_never_recorded(spark, tmp_path):
    """Docs dropped by the row-local prefix must not pollute either store
    — only exact-dedup survivors are history."""
    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")
    good = " ".join(f"word{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, good), (2, "tiny"), (3, good)], _SCHEMA)  # 3 exact-dups 1
    out = ingest_clean_batch(docs, dp, sp, _CFG)
    assert [r["doc_id"] for r in out.collect()] == [1]
    assert read_digest_store(spark, dp).count() == 1  # doc 1 only
    assert sorted(r["id"] for r in
                  read_signature_store(spark, sp).collect()) == [1]


def test_fixed_stop_shingles_disable_suppression(spark, tmp_path):
    """A fixed stop list (the batch-independent replacement for the
    corpus-frequency cap) removes listed shingles from the miner: docs
    similar ONLY through stop-listed shingles are not near-dups."""
    from htrc_feature_reader_spark.operators.dedup import word_shingle_ids

    base = " ".join(f"word{i}" for i in range(20))
    d1 = spark.createDataFrame([(1, base)], _SCHEMA)
    stops = word_shingle_ids(d1, "text", "doc_id").select("shingle_id")

    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")
    docs = spark.createDataFrame([(1, base), (2, base + " tail")], _SCHEMA)
    # without the stop list, 2 is a near-dup of 1 and is dropped
    out_plain = ingest_clean_batch(
        docs, str(tmp_path / "d2"), str(tmp_path / "s2"), _CFG)
    assert [r["doc_id"] for r in out_plain.collect()] == [1]
    # with every shared shingle stop-listed, both survive
    out = ingest_clean_batch(docs, dp, sp, _CFG, stop_shingles=stops)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_out_path_and_decontaminate_compose(spark, tmp_path):
    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")
    out_dir = str(tmp_path / "out")
    contaminated = " ".join(f"eval{i}" for i in range(15))
    docs = spark.createDataFrame(
        [(1, " ".join(f"word{i}" for i in range(20))), (2, contaminated)],
        _SCHEMA)
    ev = spark.createDataFrame([(contaminated,)], "text string")
    cfg = CleanConfig(stop_shingle_frac=1.0, near_dup_threshold=0.25,
                      decontaminate_n=13)
    out = ingest_clean_batch(docs, dp, sp, cfg, out_path=out_dir, eval_df=ev)
    assert [r["doc_id"] for r in out.collect()] == [1]
    assert [r["doc_id"] for r in
            spark.read.parquet(out_dir).collect()] == [1]
    # decontamination happens AFTER store recording: doc 2 is history
    # (its near-dups stay suppressed) even though it never shipped
    assert read_digest_store(spark, dp).count() == 2


def test_crash_between_signature_and_digest_append_converges(spark, tmp_path):
    """The store-append order is signatures-then-digests: a crash in
    between leaves signatures recorded but digests not. The replay must
    re-derive the exact survivors (digests unrecorded), self-suppress
    against the orphan signature shard, and complete the digest append —
    never lose the batch's near-dup history (the reverse order would)."""
    from htrc_feature_reader_spark.operators.dedup import (
        minhash_signatures, word_shingle_ids)
    from htrc_feature_reader_spark.operators.pipeline import _quality_lang
    from htrc_feature_reader_spark.sources.signature_store import (
        append_signatures)

    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")
    base = " ".join(f"word{i}" for i in range(20))
    other = " ".join(f"other{i}" for i in range(20))
    batch = spark.createDataFrame([(1, base), (2, other)], _SCHEMA)

    # simulate the crashed run's completed steps: signatures appended,
    # digests NOT (out_path rows also landed, not modeled here)
    ex = _quality_lang(batch, _CFG, "text")
    append_signatures(
        minhash_signatures(word_shingle_ids(ex, "text", "doc_id", n=3)), sp)

    # replay: both docs self-collide against the orphan shard (nothing
    # re-ships), digests complete
    out = ingest_clean_batch(batch, dp, sp, _CFG)
    assert out.count() == 0
    assert read_digest_store(spark, dp).count() == 2

    # history intact: a later near-dup of the crashed batch is suppressed
    b2 = spark.createDataFrame([(10, base + " tail")], _SCHEMA)
    assert ingest_clean_batch(b2, dp, sp, _CFG).count() == 0


def test_stream_ingest_clean_full_funnel(spark, tmp_path):
    """Streaming incremental clean: live query, quality + exact + near-dup
    suppression across micro-batches with history in BOTH stores."""
    from htrc_feature_reader_spark.streaming.dedup import stream_ingest_clean

    dp, sp = str(tmp_path / "dig"), str(tmp_path / "sig")
    out, src = str(tmp_path / "out"), str(tmp_path / "src")
    base = " ".join(f"word{i}" for i in range(20))
    d1 = spark.createDataFrame(
        [(1, base), (2, "tiny"), (3, base)], _SCHEMA)  # quality-fail + dup
    d1.coalesce(1).write.parquet(src)
    q = stream_ingest_clean(
        spark.readStream.schema(d1.schema).parquet(src),
        dp, sp, out, str(tmp_path / "ck"), config=_CFG)
    try:
        q.processAllAvailable()
        assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
        # next micro-batch: exact copy, near copy, novel doc
        spark.createDataFrame(
            [(10, base), (11, base + " tail"),
             (12, " ".join(f"other{i}" for i in range(20)))],
            _SCHEMA).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert {r["doc_id"] for r in
                spark.read.parquet(out).collect()} == {1, 12}
    finally:
        q.stop()
    assert read_digest_store(spark, dp).count() == 3  # 1, 11, 12


def test_stream_ingest_clean_checks_config_eagerly(spark, tmp_path):
    """The ignored-field warning of a non-neutralized CleanConfig must
    surface AT THE CALL SITE, not asynchronously inside the first
    micro-batch on the stream thread."""
    from htrc_feature_reader_spark.streaming.dedup import stream_ingest_clean

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "x " * 30)], _SCHEMA).write.parquet(src)
    with pytest.warns(UserWarning, match="stop_shingle_frac"):
        q = stream_ingest_clean(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            str(tmp_path / "d"), str(tmp_path / "s"), str(tmp_path / "o"),
            str(tmp_path / "ck"), config=CleanConfig())
    q.stop()


def test_non_neutralized_stop_shingle_frac_warns(spark, tmp_path):
    """ingest_clean_batch IGNORES CleanConfig.stop_shingle_frac (corpus
    frequencies are batch-dependent) — a caller reusing a default one-shot
    config must get a runtime signal, silenced by neutralizing the field
    or passing a fixed stop_shingles table."""
    import warnings

    docs = _corpus(spark, n=8)
    cfg = CleanConfig(near_dup_threshold=0.25)  # default frac=0.5
    with pytest.warns(UserWarning, match="stop_shingle_frac"):
        ingest_clean_batch(
            docs, str(tmp_path / "d1"), str(tmp_path / "s1"), cfg)
    # neutralized (None) -> silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ingest_clean_batch(
            docs, str(tmp_path / "d2"), str(tmp_path / "s2"),
            CleanConfig(stop_shingle_frac=None, near_dup_threshold=0.25))
    # fixed stop list provided -> silent even with a non-neutral frac
    stop = spark.createDataFrame([(0,)], "shingle_id long")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ingest_clean_batch(
            docs, str(tmp_path / "d3"), str(tmp_path / "s3"), cfg,
            stop_shingles=stop)


def test_string_id_rejected_before_any_store_write(spark, tmp_path):
    """The eager id-dtype guard fires at the funnel entry (before quality
    filtering, stores, or out_path)."""
    import os

    docs = spark.createDataFrame(
        [("htid.1", "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 " * 3)],
        "doc_id string, text string")
    with pytest.raises(TypeError, match="integral id"):
        ingest_clean_batch(
            docs, str(tmp_path / "dg"), str(tmp_path / "sg"), _CFG,
            out_path=str(tmp_path / "out"))
    for sub in ("dg", "sg", "out"):
        assert not os.path.exists(str(tmp_path / sub))
