"""Incremental NEAR-dup signature store: index MinHash signatures once,
suppress near-duplicates in every future ingest batch.

The near-dup analog of :mod:`.digest_store` (exact dedup): a production
training-data pipeline ingests continuously and must ask "is this content
NEARLY identical to anything we have EVER admitted?" without re-mining
100 TB of history. The store holds one row per processed document —
``(id, sig array<long>)``, ~72 bytes at the default 8 hashes — and each
ingest round is:

1. the caller computes the batch's MinHash signatures with the SAME
   deterministic shingle/hash family as the store's history (the
   :func:`word_minhash_signatures` convenience covers the common case;
   any ``minhash_signatures`` output works — token-array shingles, char
   shingles, ...),
2. ONE (band, bucket) join decides the drops: the batch bands join the
   batch bands unioned with the store bands (store rows carry a NULL
   id), and a collision whose signature agreement >= ``threshold`` drops
   the BATCH doc when the other row is
   - a smaller batch id — the larger id of each verified within-batch
     pair goes (the keep-min-per-pair survivorship rule of
     :func:`..operators.pipeline.clean_corpus`), or
   - a store row — history always has precedence (first arrival wins).
   The drop ids feed one anti join, which ignores duplicate keys, so no
   ``distinct`` (and no exchange for it) is planned, and
3. ALL batch signatures (kept AND dropped) are appended as a new parquet
   shard — matching the one-shot rule, where a dropped document still
   suppresses its own later near-duplicates.

Equivalence contract (tested): ingesting id-ordered batches b1 < b2 < ...
yields EXACTLY the survivors of the one-shot rule "drop d iff some verified
candidate pair (a, d) with a < d exists" over the union — banding is a
per-document function of the signature (``band_rows``) and verification a
per-pair function of the two signatures, so neither depends on batch
boundaries. With arbitrary (non-id-ordered) batches the semantics are
arrival-order precedence instead; both are deterministic.

Scale shape: the one join is (band, bucket)-keyed; the batch side is
one ingest's bands (small), so AQE broadcasts it and the store scan stays
shuffle-free — indexing 10^9 documents costs each ingest one map-side
probe of the store, not a corpus shuffle. Store-side banding is a
map-side ``posexplode`` over the shard scan (no shuffle). Degenerate
buckets are the caller's concern at mining time: corpus-frequency-based
stop-shingle capping (``stop_capped_shingle_ids``) is batch-dependent and
would BREAK the equivalence contract — for incremental use, filter
shingles against a FIXED stop list (``ingest_clean_batch(stop_shingles=)``)
instead.

Crash/concurrency story mirrors the digest store: survivors' DATA is
appended to ``out_path`` BEFORE signatures are recorded, so a crash
between the two replays the batch into duplicate output rows at worst
(at-least-once; the reverse order would silently lose the batch).
Re-ingesting a fully-recorded batch drops every row (each doc collides
with its own stored signature at agreement 1.0) and appends only the
re-dropped signatures — output-idempotent, store grows by one redundant
shard (``compact_signature_store`` restores one row per id). Concurrent
ingests of overlapping content may both admit a copy; serialize ingests
or compact + re-dedup downstream if that matters.

No reference analog (the reference has no dedup at all) — this extends
SURVEY.md SS2's LLM-pipeline layer; cites reference only for scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    band_rows,
    minhash_signatures,
    signature_agreement,
    word_shingle_ids,
)
from .store_common import (
    compact_shard_store,
    read_shard_store,
    require_integral_id,
)

_SIG_SCHEMA = "id long, sig array<long>"
# signature length of word_minhash_signatures
SIG_HASHES = 8


def word_minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig) for the common text case: word 3-gram rolling-hash
    shingles -> MinHash with ``SIG_HASHES`` hashes at seed 42 (the
    one-shot miner's defaults). Deterministic in content alone (no corpus
    statistics), so signatures computed in different batches / jobs /
    years agree — the property the store's history depends on.

    Documents with fewer than 3 words produce NO signature row: they
    have no shingles, are never candidates, and are always admitted
    (same as the one-shot miner's behavior for them)."""
    return minhash_signatures(
        word_shingle_ids(docs, text_col, id_col, n=3), n_hashes=SIG_HASHES
    )


def read_signature_store(spark: SparkSession, path: str) -> DataFrame:
    """The store as a DataFrame (id, sig); missing/empty paths read as an
    empty relation via the shared Hadoop-FS probe
    (:func:`.store_common.read_shard_store` — see there for why
    ``os.path`` would silently empty remote stores)."""
    return read_shard_store(spark, path, _SIG_SCHEMA)


def neardup_against_store(
    docs: DataFrame,
    store: DataFrame,
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Batch rows surviving BOTH within-batch near-dup survivorship
    (drop the larger id of every verified candidate pair) and the store
    (drop any doc verified-similar to ANY recorded signature, own id
    included). ``signatures`` is the batch's (id, sig) table keyed by
    ``id_col`` values. Returns the surviving input rows unchanged.

    Lazy: ONE (band, bucket) join of the batch bands against the batch
    bands unioned with the store bands (store rows carry a NULL id), then
    one anti join. A collision drops the batch doc when the other row is
    a store row or a smaller batch id and the signatures agree on at
    least ``threshold`` of their positions. AQE broadcasts the batch side
    when the ingest is small, so the store scan streams through the join
    without an exchange."""
    # a NULL batch id can neither be dropped (the anti join never matches
    # it) nor drop anything (it would read as a store row below). Both
    # uses of the bands share this filter, so their subplans are equal and
    # plan as ONE exchange when the signatures are not pinned
    bands = band_rows(signatures, n_bands, rows_per_band).where(
        F.col("id").isNotNull()
    )
    bb = bands.select(
        F.col("id").alias("__bid"), F.col("sig").alias("__bsig"),
        "band", "bucket",
    )
    # the other side of the one join: the batch's own bands (for the
    # within-batch pairs) and history's bands with a NULL id — history
    # has precedence regardless of id, so no id ordering applies to it
    other = bands.select(
        F.col("id").alias("__oid"), F.col("sig").alias("__osig"),
        "band", "bucket",
    ).unionByName(
        band_rows(store, n_bands, rows_per_band).select(
            F.lit(None).cast("long").alias("__oid"),
            F.col("sig").alias("__osig"),
            "band", "bucket",
        )
    )
    # fail CLOSED on signature-length drift (n_hashes changed between the
    # recorded history and this batch): zip_with pads the shorter side
    # with nulls, (x == y) on null is null, the agreement goes null, and
    # 'null >= threshold' would silently evaluate every collision to
    # no-drop — re-admitting all historical near-dups with zero errors.
    # assert_true errors the job on the first colliding mismatched pair
    # (and is NULL — isNull() True — on every healthy row, so the filter
    # is a no-op when configs agree).
    len_guard = F.assert_true(
        F.size("__bsig") == F.size("__osig"),
        F.lit(
            "signature length mismatch between batch and store: the "
            "recorded history was built with a different n_hashes / "
            "sig_fn than this ingest — rebuild or compact-migrate the "
            "store, do not mix signature families"
        ),
    ).isNull()
    # no distinct: left_anti is insensitive to duplicate keys on the
    # right side, so deduping the drop set would only add an exchange
    drops = (
        bb.join(other, on=["band", "bucket"])
        .filter(
            (F.col("__oid").isNull() | (F.col("__oid") < F.col("__bid")))
            & len_guard
            & (signature_agreement("__bsig", "__osig") >= threshold)
        )
        .select(F.col("__bid").alias(id_col))
    )
    return docs.join(drops, on=id_col, how="left_anti")


def append_signatures(signatures: DataFrame, path: str) -> None:
    """Record a batch's signatures as a new store shard (parquet append —
    additive files, prior shards untouched). Record ALL processed docs'
    signatures, kept and dropped (see module docstring). Raises eagerly
    on a non-integral id (:func:`.store_common.require_integral_id` — a
    string id would silently store as NULL)."""
    require_integral_id(signatures, "id", "append_signatures")
    signatures.select(
        F.col("id").cast("long").alias("id"), "sig"
    ).write.mode("append").parquet(path)


def ingest_batch_near_dup(
    docs: DataFrame,
    path: str,
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    out_path: str | None = None,
) -> DataFrame:
    """One ingest round: suppress ``docs`` near-dups against the store at
    ``path`` (and within the batch), record the batch's signatures, and
    return the survivors. EAGER — the decisions are pinned
    (localCheckpoint) before the store mutates, so the new shard cannot
    influence its own batch.

    Crash-ordering contract (same as ``digest_store.ingest_batch``): pass
    ``out_path`` whenever survivors feed a sink, so DATA lands before
    signatures are recorded; a crash between the two re-admits the batch
    on replay (duplicate rows at worst) instead of silently losing it.
    """
    spark = docs.sparkSession
    # validate BEFORE any work or write: a string id would otherwise land
    # as NULL in the store after out_path data already shipped
    require_integral_id(signatures, "id", "ingest_batch_near_dup")
    # pin the signatures once: the shingle folds + MinHash aggregation are
    # the dominant CPU stage of the round, and the plan is otherwise
    # evaluated twice (once under the neardup joins, again by the append)
    signatures = signatures.localCheckpoint(eager=True)
    survivors = neardup_against_store(
        docs,
        read_signature_store(spark, path),
        signatures,
        id_col=id_col,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        threshold=threshold,
    ).localCheckpoint(eager=True)
    if out_path is not None:
        survivors.write.mode("append").parquet(out_path)
    append_signatures(signatures, path)
    return survivors


def compact_signature_store(spark: SparkSession, path: str) -> None:
    """Rewrite the store to one row per id in one shard set — run
    periodically if crash replays have duplicated ids or shard counts
    have grown past the file-listing comfort zone. Signatures are a
    function of content, so duplicates are identical rows and any
    survivor is correct. Not required for correctness of
    ``neardup_against_store`` (a duplicate signature just re-votes the
    same drop)."""
    compact_shard_store(
        spark, path, _SIG_SCHEMA, lambda st: st.dropDuplicates(["id"])
    )
