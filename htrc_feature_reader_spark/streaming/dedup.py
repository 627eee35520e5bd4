"""Streaming exact dedup: emit each distinct document once.

The streaming face of ``operators/dedup.exact_duplicates`` for a
continuously-ingested corpus: documents are keyed by their content digest
(md5 of the text, optionally whitespace/case-normalized — the same
``content_digest`` expression as the batch operator) and only the FIRST
arrival of each digest is emitted downstream.

Two state regimes, both one shuffle (the digest hash):

- unbounded (``watermark=None``): ``dropDuplicates`` on the digest —
  state holds one row per distinct digest forever. Right for bounded
  replays and moderate cardinalities; at 100 TB the digest-set state is
  ~#distinct-docs x ~80 bytes sharded across executors (RocksDB state
  store on a real cluster).
- watermarked: ``dropDuplicatesWithinWatermark`` — duplicates are only
  suppressed while their first arrival is within the watermark horizon,
  and state ages out with the event-time watermark. Right for unbounded
  streams where re-crawls cluster in time (the common web-crawl shape);
  a duplicate arriving later than the horizon is re-emitted (documented
  relaxation — downstream batch dedup catches stragglers).

Batch-equivalence (minus the horizon relaxation) is tested against
``exact_duplicates`` in tests/test_streaming_dedup.py, including state
carried across micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import content_digest


def stream_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    normalize: bool = False,
    watermark: str | None = None,
    digest_col: str = "digest",
) -> DataFrame:
    """First-arrival-wins streaming dedup on the content digest.

    ``watermark`` (e.g. ``"1 hour"``) bounds state via
    ``dropDuplicatesWithinWatermark`` and requires ``ts_col`` (the event-
    time column the watermark rides on). Returns the input columns plus
    ``digest_col`` (kept — downstream sinks can dedup-join on it).
    """
    out = docs.withColumn(digest_col, content_digest(text_col, normalize))
    if watermark is None:
        return out.dropDuplicates([digest_col])
    if ts_col is None:
        raise ValueError("watermarked dedup needs ts_col for the event time")
    return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [digest_col]
    )


def _start_foreach_batch(docs, each_batch, checkpoint_dir):
    """The shared writer tail of every store-backed ingest stream in this
    module (one definition — writer options cannot drift between the
    exact, near-dup, and full-funnel faces)."""
    return (
        docs.writeStream.foreachBatch(each_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_ingest_against_store(
    docs: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
):
    """Streaming face of the incremental digest store
    (:mod:`..sources.digest_store`): each micro-batch is one
    :func:`~..sources.digest_store.ingest_batch` round — dedup the batch
    within itself AND against every document ever recorded (across
    restarts, across jobs, across batch/stream boundaries), append the
    survivors to ``out_path`` and their digests to the store.

    This is the regime ``dropDuplicates`` state can't reach: the "have we
    EVER seen this" set lives in the store's parquet shards, not in the
    query's state store — so it survives checkpoint deletion, is shared
    with batch ingests, and is ~16 bytes/doc instead of full-row state.
    Crash story (at-least-once by construction): each epoch writes the
    surviving DATA to ``out_path`` before recording digests — a crash
    between the two replays the epoch, the still-unrecorded batch is
    re-admitted, and ``out_path`` gains duplicate rows at worst
    (absorbed by any downstream exact dedup). The reverse order would
    turn that crash into silent permanent loss: digests recorded, data
    never written, replay anti-joins the whole batch away. A replayed
    epoch that completed both steps re-drops its digests (anti join) and
    appends nothing — convergent.

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..sources.digest_store import ingest_batch
    from ..sources.store_common import require_integral_id

    # eager: a string id would fail (or silently NULL) inside the first
    # micro-batch on the stream thread — raise at the call site instead
    require_integral_id(docs, id_col, "stream_ingest_against_store")

    def each_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # out_path ordering: data before digests (see crash story above)
        ingest_batch(
            batch_df, store_path, text_col, id_col, normalize, out_path=out_path
        )

    return _start_foreach_batch(docs, each_batch, checkpoint_dir)


def stream_ingest_near_dup(
    docs: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
):
    """Streaming face of the incremental NEAR-dup signature store
    (:mod:`..sources.signature_store`): each micro-batch is one
    :func:`~..sources.signature_store.ingest_batch_near_dup` round —
    suppress the batch's near-duplicates within itself AND against every
    document ever processed (across restarts, jobs, and batch/stream
    boundaries), append survivors to ``out_path`` and ALL batch
    signatures to the store.

    Each batch's MinHash signatures are
    :func:`~..sources.signature_store.word_minhash_signatures` over
    ``text_col``/``id_col``: deterministic in content alone, so history
    collisions mean the same thing in every batch. Those signatures hold
    ``SIG_HASHES`` (8) positions, so a band layout needing more —
    ``n_bands * rows_per_band > 8`` — raises ``ValueError`` here, before
    any stream starts. State is the store's parquet shards
    (~72 bytes/doc), not the query's state store — it survives checkpoint
    deletion and is shared with batch ingests. Crash story: at-least-once
    (data lands before signatures; see the store module docstring).

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..sources.signature_store import (
        SIG_HASHES,
        ingest_batch_near_dup,
        word_minhash_signatures,
    )
    from ..sources.store_common import require_integral_id

    # eager (see stream_ingest_against_store): raise at the call site,
    # not inside the first micro-batch
    require_integral_id(docs, id_col, "stream_ingest_near_dup")
    if n_bands * rows_per_band > SIG_HASHES:
        # same check as CleanConfig: a band past the signature's end
        # would pair every document
        raise ValueError(
            f"n_bands * rows_per_band ({n_bands} * {rows_per_band}) exceeds "
            f"the {SIG_HASHES} MinHash positions of word_minhash_signatures"
        )

    def each_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_batch_near_dup(
            batch_df,
            store_path,
            word_minhash_signatures(batch_df, text_col, id_col),
            id_col=id_col,
            n_bands=n_bands,
            rows_per_band=rows_per_band,
            threshold=threshold,
            out_path=out_path,
        )

    return _start_foreach_batch(docs, each_batch, checkpoint_dir)


def stream_ingest_clean(
    docs: DataFrame,
    digest_path: str,
    sig_path: str,
    out_path: str,
    checkpoint_dir: str,
    config=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_df: DataFrame | None = None,
    stop_shingles: DataFrame | None = None,
):
    """Streaming face of the FULL incremental cleaning funnel
    (:func:`..operators.pipeline.ingest_clean_batch`): each micro-batch is
    quality/language-filtered, exact-deduped against the digest store,
    near-dup-suppressed against the signature store, optionally
    decontaminated against ``eval_df``, written to ``out_path``, and
    recorded into both stores — a continuously-running crawl-ingest
    pipeline whose history lives in the stores' parquet shards (shared
    with batch ingests, surviving checkpoint deletion).

    ``config`` is a :class:`~..operators.pipeline.CleanConfig`; the same
    incremental constraint applies (fixed ``stop_shingles`` instead of
    the corpus-frequency cap) and the same
    crash ordering (data -> signatures -> digests; at-least-once).

    Returns the started :class:`~pyspark.sql.streaming.StreamingQuery`.
    """
    from ..operators.pipeline import (
        CleanConfig,
        check_incremental_config,
        ingest_clean_batch,
    )

    # check EAGERLY: the ignored-field warning must surface here at the
    # call site, not asynchronously inside the first micro-batch on the
    # stream thread (a fire-and-forget caller would never see it)
    check_incremental_config(
        config or CleanConfig(),
        stop_shingles_provided=stop_shingles is not None,
    )
    from ..sources.store_common import require_integral_id

    require_integral_id(docs, id_col, "stream_ingest_clean")

    def each_batch(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_clean_batch(
            batch_df,
            digest_path,
            sig_path,
            config,
            text_col=text_col,
            id_col=id_col,
            out_path=out_path,
            eval_df=eval_df,
            stop_shingles=stop_shingles,
        )

    return _start_foreach_batch(docs, each_batch, checkpoint_dir)
