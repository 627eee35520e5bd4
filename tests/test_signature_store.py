"""Incremental near-dup signature store: one-shot equivalence, ingest
rounds, idempotency, short-doc behavior, compaction, streaming face."""

import random

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.dedup import lsh_candidate_pairs
from htrc_feature_reader_spark.sources.signature_store import (
    append_signatures,
    compact_signature_store,
    ingest_batch_near_dup,
    neardup_against_store,
    read_signature_store,
    word_minhash_signatures,
)

_SCHEMA = "doc_id long, text string"
_T = 0.25  # verification threshold used throughout


def _corpus(spark, n=24, seed=7):
    """Deterministic corpus with exact dups, heavy-overlap near-dups, and
    unique docs — enough structure that the one-shot miner finds both
    intra- and cross-batch pairs."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    base = " ".join(rng.choice(vocab) for _ in range(30))
    for i in range(n):
        if i % 6 == 1:
            text = base  # exact dup family spanning batches
        elif i % 6 == 2:
            # heavy-overlap near-dup of the base (one word appended)
            text = base + f" extra{i}"
        else:
            text = " ".join(rng.choice(vocab) for _ in range(20 + i % 5))
        rows.append((i, text))
    return spark.createDataFrame(rows, _SCHEMA)


def _one_shot_kept(docs):
    """The batch 'pairs' survivorship rule over the whole corpus: drop the
    larger id of every verified candidate pair."""
    sigs = word_minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2,
                                verify_threshold=_T)
    dropped = {r["id_b"] for r in pairs.collect()}
    return {r["doc_id"] for r in docs.collect()} - dropped, pairs


def test_incremental_equals_one_shot_pairs_rule(spark, tmp_path):
    """Ingesting id-ordered batches through the store yields EXACTLY the
    one-shot survivors — banding and verification are per-doc/per-pair
    functions of content, so batch boundaries cannot change the result."""
    docs = _corpus(spark)
    expected, pairs = _one_shot_kept(docs)
    pair_rows = pairs.collect()
    assert pair_rows, "corpus must actually contain verified near-dups"
    # the test is vacuous unless some pair SPANS a batch boundary
    assert any(r["id_a"] // 8 != r["id_b"] // 8 for r in pair_rows)

    p = str(tmp_path / "store")
    kept = set()
    for lo in (0, 8, 16):  # ascending-id batches
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 8))
        out = ingest_batch_near_dup(
            b, p, word_minhash_signatures(b), threshold=_T)
        kept |= {r["doc_id"] for r in out.collect()}
    assert kept == expected


def test_reingest_is_output_idempotent(spark, tmp_path):
    p = str(tmp_path / "store")
    docs = _corpus(spark, n=8)
    out1 = ingest_batch_near_dup(
        docs, p, word_minhash_signatures(docs), threshold=_T)
    n1 = out1.count()
    assert n1 > 0
    # every re-ingested doc collides with its own stored signature
    out2 = ingest_batch_near_dup(
        docs, p, word_minhash_signatures(docs), threshold=_T)
    assert out2.count() == 0


def test_dropped_doc_signature_recorded(spark, tmp_path):
    """Kept AND dropped docs are recorded — a dropped near-dup must still
    suppress ITS later near-dups (the one-shot record-all semantics)."""
    p = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], _SCHEMA)  # 2 drops vs 1
    out = ingest_batch_near_dup(
        docs, p, word_minhash_signatures(docs), threshold=_T)
    assert [r["doc_id"] for r in out.collect()] == [1]
    st = read_signature_store(spark, p)
    assert sorted(r["id"] for r in st.collect()) == [1, 2]
    # the dropped doc's recorded signature suppresses a future copy
    d3 = spark.createDataFrame([(3, "a b c d e f")], _SCHEMA)
    out3 = ingest_batch_near_dup(
        d3, p, word_minhash_signatures(d3), threshold=_T)
    assert out3.count() == 0


def test_short_docs_always_admitted_never_recorded(spark, tmp_path):
    p = str(tmp_path / "store")
    docs = spark.createDataFrame([(1, "hi there"), (2, "hi there")], _SCHEMA)
    out = ingest_batch_near_dup(
        docs, p, word_minhash_signatures(docs), threshold=_T)
    # < 3 words -> no shingles -> no signature -> never a candidate
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    assert read_signature_store(spark, p).count() == 0


def test_missing_store_reads_empty_with_schema(spark, tmp_path):
    st = read_signature_store(spark, str(tmp_path / "nope"))
    assert st.count() == 0
    assert st.columns == ["id", "sig"]
    docs = spark.createDataFrame([(5, "x y z w")], _SCHEMA)
    out = neardup_against_store(docs, st, word_minhash_signatures(docs))
    assert out.count() == 1
    assert set(out.columns) == {"doc_id", "text"}  # input rows unchanged


def test_compact_signature_store(spark, tmp_path):
    p = str(tmp_path / "store")
    docs = spark.createDataFrame([(1, "a b c d"), (2, "p q r s")], _SCHEMA)
    sigs = word_minhash_signatures(docs)
    for _ in range(3):  # crash-replay shape: same shard appended thrice
        append_signatures(sigs, p)
    assert read_signature_store(spark, p).count() == 6
    compact_signature_store(spark, p)
    assert read_signature_store(spark, p).count() == 2
    # still a functioning store: both docs' near-dups suppressed
    d = spark.createDataFrame([(9, "a b c d"), (10, "new doc words here")],
                              _SCHEMA)
    out = ingest_batch_near_dup(d, p, word_minhash_signatures(d), threshold=_T)
    assert [r["doc_id"] for r in out.collect()] == [10]


def test_out_path_written_before_signatures(spark, tmp_path):
    """The crash-ordering contract: survivors' data lands in out_path and
    the decisions are pinned BEFORE the store mutates (an unpinned lazy
    plan would re-read the store post-append and self-drop everything)."""
    p = str(tmp_path / "store")
    out_dir = str(tmp_path / "out")
    docs = spark.createDataFrame([(1, "m n o p q")], _SCHEMA)
    out = ingest_batch_near_dup(
        docs, p, word_minhash_signatures(docs), threshold=_T,
        out_path=out_dir)
    assert out.count() == 1  # post-append re-evaluation must not self-drop
    assert spark.read.parquet(out_dir).count() == 1


def test_stream_ingest_near_dup_cross_restart(spark, tmp_path):
    """Streaming near-dup ingest suppresses within-batch, cross-micro-batch,
    and across query restarts with a FRESH checkpoint — history lives in
    the store's shards. Also crosses the batch/stream boundary (a batch
    ingest pre-seeds what the stream respects)."""
    from htrc_feature_reader_spark.streaming.dedup import stream_ingest_near_dup

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")

    seed = spark.createDataFrame([(0, "alpha beta gamma delta")], _SCHEMA)
    ingest_batch_near_dup(
        seed, store, word_minhash_signatures(seed), threshold=_T)

    d1 = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four"),
         (3, "alpha beta gamma delta")], _SCHEMA)
    d1.coalesce(1).write.parquet(src)
    q = stream_ingest_near_dup(
        spark.readStream.schema(d1.schema).parquet(src),
        store, out, str(tmp_path / "ck1"), threshold=_T)
    try:
        q.processAllAvailable()
        # within-batch dup (2) and batch-seeded near-dup (3) suppressed
        assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
        spark.createDataFrame(
            [(4, "one two three four"), (5, "five six seven eight")],
            _SCHEMA).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 5}
    finally:
        q.stop()

    # fresh checkpoint replays the whole source; the store still remembers
    spark.createDataFrame(
        [(6, "five six seven eight"), (7, "nine ten eleven twelve")],
        _SCHEMA).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_ingest_near_dup(
        spark.readStream.schema(d1.schema).parquet(src),
        store, out, str(tmp_path / "ck2"), threshold=_T)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 5, 7}


def test_stream_ingest_near_dup_rejects_long_band_layout(spark, tmp_path):
    """word_minhash_signatures always makes 8 hashes, so a layout needing
    more positions (5 bands x 2 rows) raises at the call site, before any
    stream starts, instead of failing inside the first micro-batch."""
    from htrc_feature_reader_spark.streaming.dedup import stream_ingest_near_dup

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "one two three four")], _SCHEMA).write.parquet(src)
    before = len(spark.streams.active)
    with pytest.raises(ValueError, match="exceeds the 8 MinHash positions"):
        stream_ingest_near_dup(
            spark.readStream.schema(_SCHEMA).parquet(src),
            str(tmp_path / "store"), str(tmp_path / "out"),
            str(tmp_path / "ck"), n_bands=5, rows_per_band=2)
    assert len(spark.streams.active) == before
    assert not (tmp_path / "ck").exists()


def test_verification_discriminates_vs_store(spark):
    """At 4 bands x 2 rows and threshold 0.25, any band collision already
    implies 2/8 agreement — verification is vacuous there. This pins the
    DISCRIMINATING branch with hand-built signatures: one shared band
    (2/8 positions agree), thresholds above vs at the agreement level."""
    docs = spark.createDataFrame([(1, "ignored text")], _SCHEMA)
    store = spark.createDataFrame(
        [(100, [1, 2, 3, 4, 5, 6, 7, 8])], "id long, sig array<long>")
    sigs = spark.createDataFrame(
        [(1, [1, 2, 99, 98, 97, 96, 95, 94])], "id long, sig array<long>")
    kept_strict = neardup_against_store(docs, store, sigs, threshold=0.5)
    assert kept_strict.count() == 1  # 2/8 = 0.25 < 0.5: collision rejected
    kept_loose = neardup_against_store(docs, store, sigs, threshold=0.25)
    assert kept_loose.count() == 0  # 0.25 >= 0.25: dropped


def test_signature_length_drift_fails_closed(spark):
    """History built with a different n_hashes must ERROR on collision,
    not silently no-drop (null agreement would otherwise re-admit every
    historical near-dup)."""
    docs = spark.createDataFrame([(1, "ignored text")], _SCHEMA)
    store = spark.createDataFrame(
        [(100, [1, 2, 3, 4, 5, 6, 7, 8])], "id long, sig array<long>")
    short = spark.createDataFrame(
        [(1, [1, 2, 9, 9])], "id long, sig array<long>")  # band 0 collides
    with pytest.raises(Exception, match="signature length mismatch"):
        neardup_against_store(docs, store, short, threshold=0.5).collect()


def test_signature_length_drift_fails_closed_when_bands_fit(spark):
    """A batch signature LONGER than history's fits the band layout, so
    only the batch-vs-store length guard can catch the drift."""
    docs = spark.createDataFrame([(1, "ignored text")], _SCHEMA)
    store = spark.createDataFrame(
        [(100, [1, 2, 3, 4, 5, 6, 7, 8])], "id long, sig array<long>")
    longer = spark.createDataFrame(
        [(1, [1, 2, 9, 9, 9, 9, 9, 9, 9, 9])], "id long, sig array<long>")
    with pytest.raises(Exception, match="between batch and store"):
        neardup_against_store(docs, store, longer, threshold=0.5).collect()


def test_band_layout_past_signature_fails_closed(spark, tmp_path):
    """5 bands x 2 rows over 8-hash signatures: the fifth band would slice
    to [] for every doc, and that shared empty bucket would pair all 6
    unrelated docs (15 pairs) and drop 5 of them against an empty store.
    Both banding paths error instead; at 4 bands nothing pairs."""
    rng = random.Random(3)
    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{rng.randrange(10**6)}" for _ in range(60)))
         for i in range(6)], _SCHEMA)
    sigs = word_minhash_signatures(docs)
    store = read_signature_store(spark, str(tmp_path / "empty"))
    assert lsh_candidate_pairs(sigs, n_bands=4).count() == 0
    assert neardup_against_store(docs, store, sigs, n_bands=4, threshold=0.0).count() == 6
    with pytest.raises(Exception, match="band layout"):
        lsh_candidate_pairs(sigs, n_bands=5).collect()
    with pytest.raises(Exception, match="band layout"):
        neardup_against_store(docs, store, sigs, n_bands=5, threshold=0.0).collect()


def test_store_probe_plan_shape(spark, tmp_path):
    """The scale claim frozen as a plan test: the vs-store probe carries
    NO forced broadcast (the store is corpus-sized at 100 TB — a hint
    would OOM executors), and at runtime AQE broadcasts the SMALL batch
    side so the store scan joins without an exchange of its own rows.

    The batch holds one copy of a stored doc: with nothing to drop, AQE
    prunes the whole probe from the final plan once the drop stage comes
    back empty, and there would be no join left to inspect."""
    p = str(tmp_path / "store")
    hist = _corpus(spark, n=24)
    ingest_batch_near_dup(
        hist, p, word_minhash_signatures(hist), threshold=_T)

    stored = hist.where("doc_id = 1").first()["text"]
    batch = spark.createDataFrame(
        [(100, "a few fresh words here"), (102, stored)], _SCHEMA)
    out = neardup_against_store(
        batch, read_signature_store(spark, p),
        word_minhash_signatures(batch), threshold=_T)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert [r["doc_id"] for r in out.collect()] == [100]
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final
    band_join = [ln for ln in final.split("== Initial Plan ==")[0].splitlines()
                 if "BroadcastHashJoin [band#" in ln]
    assert len(band_join) == 1 and "BuildLeft" in band_join[0], final

    # the probe join in ISOLATION, batch left / store right, with the
    # broadcast threshold squeezed between the two sides' sizes to
    # emulate scale (store ≫ threshold > batch): AQE must then build
    # (broadcast) the batch side — BuildLeft — never the store. (At toy
    # scale with the default threshold AQE may rightly broadcast the
    # 24-doc store; the at-scale claim is which side wins when the store
    # CANNOT broadcast, which is exactly what the squeeze pins.)
    from htrc_feature_reader_spark.operators.dedup import band_rows

    batch2 = spark.createDataFrame([(101, "a few fresh words here")], _SCHEMA)
    bb = band_rows(word_minhash_signatures(batch2)).select(
        F.col("id").alias("bid"), "band", "bucket")
    sb = band_rows(read_signature_store(spark, p)).select(
        "band", "bucket", F.col("id").alias("sid"))
    j = bb.join(sb, on=["band", "bucket"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        j.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    jplan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in jplan
    assert "BuildLeft" in jplan and "BuildRight" not in jplan


def test_string_id_rejected_eagerly(spark, tmp_path):
    """Same contract as the digest store: a string id raises at the call
    site before any data or signature write (NULL-id shards would collapse
    at compact time)."""
    import os

    p = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [("htid.1", "w0 w1 w2 w3")], "doc_id string, text string")
    sigs = word_minhash_signatures(docs)
    with pytest.raises(TypeError, match="integral id"):
        ingest_batch_near_dup(docs, p, sigs, id_col="doc_id")
    with pytest.raises(TypeError, match="integral id"):
        append_signatures(sigs, p)
    assert not os.path.exists(p)
