"""Training-corpus cleaning pipeline: the composition a 100 TB user runs.

``clean_corpus`` chains the engine's training-data operators into the
standard pre-training data flow — quality filter (Gopher/C4-style
thresholds over ``quality_features``), language filter, exact dedup
(keep min-id per content digest), optional MinHash-LSH near-dup removal,
token counting — as ONE lazy DataFrame plan plus a survivorship report.

Scale shape:
- quality/language/token-count are pure Catalyst projections (no shuffle);
- exact dedup is one map-side-digest + groupBy (one shuffle), rejoined as
  a broadcast-free semi join on (digest is unique -> join on id);
- near-dup removal reuses the banded LSH pair miner (stop-shingle
  capped, never corpus²); candidate pairs are VERIFIED against the
  MinHash-estimated Jaccard before any document is dropped (raw LSH
  candidacy has a ~15%+ false-positive floor at low similarity — bare
  candidates are not duplicates), then the larger id of every verified
  pair goes (keep-min per pair, fully lazy; the same rule the incremental
  signature store applies per batch);
- the final write goes through ``plans.resume_write`` when the caller
  wants lineage + resumability.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    stop_capped_shingle_ids,
    word_shingle_ids,
)
from .text import bpe_ish_token_count, lang_id, quality_features


@dataclass
class CleanConfig:
    """Thresholds for :func:`clean_corpus` (C4/Gopher-flavored defaults)."""

    min_chars: int = 50
    min_tokens: int = 10
    max_avg_token_len: float = 12.0
    min_distinct_ratio: float = 0.2
    max_punct_ratio: float = 0.30
    keep_langs: list[str] | None = None  # None = trust stored lang / keep all
    use_stored_lang: bool = True  # use a 'lang' column when present
    near_dup: bool = True
    minhash_hashes: int = 8
    lsh_bands: int = 4
    lsh_rows: int = 2
    shingle_n: int = 3
    # corpus-frequency stop-shingle cap for the ONE-SHOT near-dup miner
    # (dedup.stop_capped_shingle_ids); None skips the stage, and 1.0 runs
    # it but drops nothing. Incremental ingest IGNORES this field (corpus
    # frequencies are batch-dependent) and warns unless it is neutralized
    # — pass ingest_clean_batch(stop_shingles=...) there instead.
    stop_shingle_frac: float | None = 0.5
    # minimum MinHash-estimated Jaccard (fraction of agreeing signature
    # positions) for a candidate pair to count as a duplicate; None skips
    # verification (raw LSH candidacy — data loss at scale, see module doc)
    near_dup_threshold: float | None = 0.5
    # word n-gram length for the optional eval-set decontamination stage
    # (armed by clean_corpus(eval_df=...)); 13 is the standard rule
    decontaminate_n: int = 13
    extra_filters: list = field(default_factory=list)  # extra Column predicates

    def __post_init__(self):
        # a band past the end of the signature slices to [] for every doc,
        # and that one shared empty bucket makes every pair a candidate
        if self.lsh_bands * self.lsh_rows > self.minhash_hashes:
            raise ValueError(
                f"lsh_bands * lsh_rows ({self.lsh_bands} * {self.lsh_rows}) "
                f"exceeds minhash_hashes ({self.minhash_hashes}): the bands "
                "past the signature's end would pair every document"
            )


def _quality_lang(docs: DataFrame, cfg: CleanConfig, text_col: str) -> DataFrame:
    """The pipeline's row-local prefix (quality thresholds, extra
    predicates, language filter) — pure Catalyst projections/filters with
    no corpus-wide state, shared verbatim by the one-shot
    :func:`clean_corpus` and the incremental :func:`ingest_clean_batch`
    (batch-independence of this prefix is what lets the incremental path
    apply it per batch without changing semantics)."""
    q = quality_features(docs, text_col)
    keep = (
        (F.col("n_chars") >= cfg.min_chars)
        & (F.col("n_tokens") >= cfg.min_tokens)
        & (F.col("avg_token_len") <= cfg.max_avg_token_len)
        & (F.col("distinct_ratio") >= cfg.min_distinct_ratio)
        & (F.col("punct_ratio") <= cfg.max_punct_ratio)
    )
    for extra in cfg.extra_filters:
        keep = keep & extra
    q = q.filter(keep)

    if not (cfg.use_stored_lang and "lang" in q.columns):
        q = q.withColumn("lang", lang_id(F.col(text_col)))
    if cfg.keep_langs is not None:
        q = q.filter(F.col("lang").isin(cfg.keep_langs))
    return q


def clean_corpus(
    docs: DataFrame,
    config: CleanConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_df: DataFrame | None = None,
) -> DataFrame:
    """Clean ``docs`` for training: returns surviving rows with quality
    columns, ``lang`` (detected or stored), and whitespace/BPE-ish token
    counts attached. Fully lazy — one plan, no driver actions.

    ``eval_df`` arms benchmark decontamination as the final stage: any
    survivor sharing a ``decontaminate_n``-gram (CleanConfig, default 13)
    with the eval texts is dropped (:func:`..dedup.decontaminate`).
    """
    cfg = config or CleanConfig()
    q = _quality_lang(docs, cfg, text_col)

    # exact dedup: survivors are the min-id row per content digest.
    # Single-pass window form — row_number over (digest) ordered by id
    # keeps exactly the min-id row per digest (ids are unique), the same
    # survivor set as the old groupBy(digest).min(id) + semi-join but with
    # ONE evaluation of the quality-filter subplan instead of two (the
    # semi-join's build side re-ran every quality regex over the corpus;
    # Spark has no cross-branch common-subplan reuse). The digest window
    # groups are duplicate-set-sized (tiny), so the sort is as
    # skew-bounded as the aggregate was.
    from pyspark.sql.window import Window

    from .dedup import content_digest

    w_dig = Window.partitionBy(content_digest(text_col)).orderBy(id_col)
    q = (
        q.withColumn("__rn", F.row_number().over(w_dig))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    if cfg.near_dup:
        sh = stop_capped_shingle_ids(q, text_col, id_col, n=cfg.shingle_n,
                                     max_df_frac=cfg.stop_shingle_frac)
        sigs = minhash_signatures(sh, n_hashes=cfg.minhash_hashes)
        # never drop on bare candidacy: the signature-estimated Jaccard must
        # clear the threshold. Verification is FUSED into the band self-join
        # (the joined row already carries both signatures) — zero extra
        # joins, no re-evaluation of the MinHash subplan.
        pairs = lsh_candidate_pairs(
            sigs, n_bands=cfg.lsh_bands, rows_per_band=cfg.lsh_rows,
            verify_threshold=cfg.near_dup_threshold,
        )
        # keep-min rule: the larger id of every verified pair goes. id_b is
        # the larger by construction (id_a < id_b), so dropping the
        # distinct id_b set is deterministic under any partitioning.
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
        q = q.join(drop, on=id_col, how="left_anti")

    if eval_df is not None:
        from .dedup import decontaminate

        q = decontaminate(q, eval_df, text_col=text_col, id_col=id_col,
                          n=cfg.decontaminate_n)

    # ws_tokens == quality's n_tokens (same split expression) — alias it
    # rather than re-evaluating the regex split over every row
    return q.withColumn("ws_tokens", F.col("n_tokens")).withColumn(
        "bpe_tokens", bpe_ish_token_count(F.col(text_col))
    )


def survivorship(docs: DataFrame, cleaned: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """One-row funnel report: input rows, surviving rows, drop rate."""
    n_in = docs.select(F.count(F.lit(1)).alias("n_in"))
    n_out = cleaned.select(F.count(F.lit(1)).alias("n_out"))
    return n_in.crossJoin(n_out).select(
        "n_in", "n_out",
        # empty-input guard: ANSI mode makes 0/0 a runtime error
        F.when(F.col("n_in") == 0, F.lit(0.0)).otherwise(
            F.round(1.0 - F.col("n_out") / F.col("n_in"), 6)
        ).alias("drop_rate"),
    )


def check_incremental_config(
    cfg: CleanConfig, stop_shingles_provided: bool = False
) -> None:
    """Warn about the CleanConfig option incremental ingest cannot honor —
    shared by :func:`ingest_clean_batch` and the streaming face
    (``streaming.dedup.stream_ingest_clean``), which checks EAGERLY at
    query construction so the warning surfaces at the call site instead
    of inside the first micro-batch on the stream thread.

    ``stop_shingle_frac`` draws a warning, not an error: the field is
    simply IGNORED by the incremental path (corpus document frequencies
    are batch-dependent, so honoring it would make drop sets depend on
    batch boundaries), but a caller reusing a default one-shot CleanConfig
    would otherwise get different near-dup drop sets — and lose the
    quadratic-bucket guard — with zero runtime signal. Neutralize the
    field (``stop_shingle_frac=None`` or ``1.0``) or pass a fixed
    ``stop_shingles`` table to silence it."""
    if (
        cfg.near_dup
        and not stop_shingles_provided
        and cfg.stop_shingle_frac is not None
        and cfg.stop_shingle_frac < 1.0
    ):
        import warnings

        warnings.warn(
            f"CleanConfig.stop_shingle_frac={cfg.stop_shingle_frac} is "
            "IGNORED by incremental ingest (corpus document frequencies "
            "are batch-dependent): near-dup drop sets will differ from "
            "clean_corpus and degenerate LSH buckets are uncapped. Pass "
            "stop_shingles=<fixed shingle_id table> for batch-independent "
            "protection, or set stop_shingle_frac=None to acknowledge.",
            UserWarning,
            stacklevel=3,
        )


def ingest_clean_batch(
    docs: DataFrame,
    digest_path: str,
    sig_path: str,
    config: CleanConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_path: str | None = None,
    eval_df: DataFrame | None = None,
    stop_shingles: DataFrame | None = None,
) -> DataFrame:
    """The incremental face of :func:`clean_corpus`: clean ONE ingest
    batch against the full history held in the exact-dedup digest store
    (``digest_path``, :mod:`..sources.digest_store`) and the near-dup
    signature store (``sig_path``, :mod:`..sources.signature_store`),
    then record what this batch contributes to that history. A 100 TB
    corpus is cleaned once with ``clean_corpus``; every later crawl drop
    is cleaned with this — without re-scanning the corpus.

    Per batch: row-local quality/language filters (batch-independent,
    shared code with ``clean_corpus``) -> exact dedup within the batch
    and against the digest store -> MinHash near-dup suppression within
    the batch and against the signature store -> optional eval-set
    decontamination -> token counts. The stores then record ALL exact
    survivors (digests AND signatures, kept or near-dup-dropped — the
    record-all rule that makes id-ordered incremental ingest EXACTLY the
    one-shot keep-min-per-pair result; see the signature-store module
    docstring for the equivalence argument).

    One deliberate deviation from ``CleanConfig``, forced by
    incrementality and flagged loudly rather than silently diverging:
    ``stop_shingle_frac`` is IGNORED. Corpus document frequencies are
    batch-dependent, so a frequency cap would make the result depend on
    batch boundaries. A non-neutralized value (anything but ``None`` /
    ``1.0``) draws a ``UserWarning`` unless ``stop_shingles`` is given.
    Pass ``stop_shingles`` (a fixed DataFrame with a ``shingle_id``
    column, e.g. the shingle ids of a reference corpus that
    :func:`..dedup.stop_capped_shingle_ids` drops) for the same
    protection with batch-independent semantics.

    Crash ordering (same contract as both stores): survivors' DATA lands
    at ``out_path`` BEFORE either store is appended, and between the two
    stores SIGNATURES land before DIGESTS — a crash in any window
    re-admits or self-suppresses the batch on replay (duplicate rows /
    a redundant signature shard at worst), never silently loses history
    (the digests-first order would: see the inline comment). Returns the
    surviving rows (EAGER: decisions are pinned before the stores
    mutate).
    """
    from ..sources.digest_store import (
        append_digests,
        dedup_against_store,
        read_digest_store,
    )
    from ..sources.signature_store import (
        append_signatures,
        neardup_against_store,
        read_signature_store,
    )

    from ..session import _job
    from ..sources.store_common import require_integral_id

    cfg = config or CleanConfig()
    check_incremental_config(
        cfg, stop_shingles_provided=stop_shingles is not None
    )
    # validate the id dtype BEFORE any filtering/write: a string id would
    # otherwise store as NULL in both stores after out_path data shipped
    require_integral_id(docs, id_col, "ingest_clean_batch")
    spark = docs.sparkSession

    q = _quality_lang(docs, cfg, text_col)
    # exact: within-batch min-id + digest-store anti join; pin before any
    # store mutates (the plan reads the store path)
    with _job("ingest_clean_batch: exact pin"):
        ex = dedup_against_store(
            q, read_digest_store(spark, digest_path), text_col, id_col
        ).localCheckpoint(eager=True)

    survivors, sigs = ex, None
    if cfg.near_dup:
        sh = word_shingle_ids(ex, text_col, id_col, n=cfg.shingle_n)
        if stop_shingles is not None:
            sh = sh.join(
                stop_shingles.select("shingle_id"), on="shingle_id",
                how="left_anti",
            )
        # pinned once: the shingle folds + MinHash aggregation would
        # otherwise run twice (under the neardup joins and again in the
        # append) — the dominant CPU stage of the round
        with _job("ingest_clean_batch: signature pin"):
            sigs = minhash_signatures(
                sh, n_hashes=cfg.minhash_hashes
            ).localCheckpoint(eager=True)
        with _job("ingest_clean_batch: near-dup pin"):
            survivors = neardup_against_store(
                ex,
                read_signature_store(spark, sig_path),
                sigs,
                id_col=id_col,
                n_bands=cfg.lsh_bands,
                rows_per_band=cfg.lsh_rows,
                # None = raw candidacy in clean_corpus; agreement >= 0 is
                # the same rule here (every collision drops)
                threshold=(
                    0.0 if cfg.near_dup_threshold is None
                    else cfg.near_dup_threshold
                ),
            ).localCheckpoint(eager=True)

    final = survivors
    if eval_df is not None:
        from .dedup import decontaminate

        final = decontaminate(final, eval_df, text_col=text_col,
                              id_col=id_col, n=cfg.decontaminate_n)
    final = final.withColumn("ws_tokens", F.col("n_tokens")).withColumn(
        "bpe_tokens", bpe_ish_token_count(F.col(text_col))
    )

    if out_path is not None:
        with _job("ingest_clean_batch: out write"):
            final.write.mode("append").parquet(out_path)
    # record-all (every exact survivor, kept or near-dup-dropped), with
    # SIGNATURES STRICTLY BEFORE DIGESTS: a crash after the digest append
    # would make the replay's exact stage drop the whole batch as
    # already-seen, so the signature append would never run and the
    # batch's near-dup history would be silently lost FOREVER (later
    # near-dups of these docs would ship). In this order the same crash
    # replays to: exact stage re-admits (digests unrecorded), near-dup
    # stage self-collides against the already-appended signatures, out
    # gains at worst the few signature-less rows again, and the digest
    # append completes — convergent, with one redundant signature shard
    # (compact_signature_store absorbs it).
    if sigs is not None:
        with _job("ingest_clean_batch: signature append"):
            append_signatures(sigs, sig_path)
    with _job("ingest_clean_batch: digest append"):
        append_digests(ex, digest_path, id_col)
    return final
