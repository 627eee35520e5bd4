"""Corpus deduplication operators (training-data pipeline extensions).

Not in the reference (it processes one volume at a time); these are the
corpus-scale companions a 100 TB training pipeline needs, each expressed as
Catalyst plans with map-side partial aggregation:

- exact dedup      : hash-groupBy on a content digest
- word/char shingles, MinHash + LSH banding : near-dup candidate pairs with
  one shuffle per stage and no quadratic blow-up
- n-gram Jaccard   : exact similarity on candidate pairs (shared-shingle
  equi-join, so only pairs with >=1 common shingle are ever materialized)
- SimHash          : 64-bit weighted fingerprint; near-dups differ in few bits

Scale notes: every operator is groupBy/join-shaped (AQE-splittable). The
MinHash signature build aggregates per (doc, hash_i) with min() — a partial
agg — then packs; LSH pairs come from a self-join on (band, bucket), which
is bounded by bucket size, not corpus size. A stop-shingle filter (drop
shingles appearing in > max_df_frac of all docs,
:func:`stop_capped_shingle_ids`) keeps degenerate buckets from
exploding — the standard trick for web-scale MinHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .hashing import (
    affine_coeffs,
    affine_hash,
    compose_ngrams,
    simhash_coeffs,
    stage_word_hashes,
    token_window_ids,
)

def content_digest(col, normalize: bool = False):
    """MD5 digest of a text column (optionally whitespace/case-normalized,
    the classic exact-dedup fingerprint)."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.lower(F.regexp_replace(c, r"\s+", " "))
    return F.md5(c.cast("binary"))


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Exact dedup: one surviving (min id) row per distinct content digest.

    Returns (digest, keep_id, n_dups). One shuffle; digest computed map-side.
    """
    return (
        df.select(content_digest(text_col, normalize).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_shingle_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distinct (id, shingle_id) pairs with shingle_id the polynomial
    rolling hash of the word n-gram string — bit-identical to
    ``rolling_hash(concat_ws(' ', w_i..w_{i+n-1}))`` but ~3x cheaper:
    each shingle id is composed from per-word folds
    (:mod:`.hashing`), so no shingle string is materialized and no
    character is folded n times. Empty words (double spaces) hash as the
    empty string, exactly as the character hash of the joined string
    sees only the two spaces.

    Distinctness is ROW-LOCAL (``array_distinct`` before the explode, no
    (id, shingle_id) shuffle): it equals the global distinct when
    ``id_col`` is unique per row, as every caller here passes a primary
    key. Callers feeding a NON-unique id (e.g. a constant) get per-ROW
    distinctness only and must dedup downstream (``decontaminate`` does).
    """
    staged = stage_word_hashes(df, text_col, id_col)
    ids = compose_ngrams(n)
    return staged.select(
        "id", F.explode(F.array_distinct(ids)).alias("shingle_id")
    )


def stop_capped_shingle_ids(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df_frac: float | None = 0.5,
) -> DataFrame:
    """:func:`word_shingle_ids` with stop-shingles dropped: a shingle whose
    document frequency exceeds ``max_df_frac`` of the corpus size N is
    removed before MinHash/LSH or Jaccard. ``max_df_frac=None`` returns
    ``word_shingle_ids(docs, ...)`` unchanged; 1.0 runs the stage but
    drops nothing.

    This is the guard that keeps web-scale near-dup mining non-quadratic:
    one viral shingle ("of the and", a boilerplate footer) puts every doc
    carrying it into one LSH bucket / one shared-shingle join key, and that
    bucket's cost is its size *squared*. Stop-shingles carry no similarity
    signal (they match everything), so dropping them barely moves Jaccard
    while bounding every bucket.

    Counting contract: df and N both count INPUT ROWS, so each row of
    ``docs`` is one document for the cap. df is the number of (id,
    shingle_id) rows per shingle, which ``word_shingle_ids`` makes
    distinct per row. N is the number of rows with at least ``n`` words
    after ``split(text, ' ')``, exactly the rows that yield a shingle. A
    ``doc_id`` spanning two rows counts twice in both; with a unique id
    per row (every caller here) the row counts are the distinct-doc
    counts. N comes from that cheap predicate over ``docs``, so the
    word-hash fold runs once.

    Plan shape: the shingles are repartitioned on ``shingle_id`` and both
    the df aggregate and the anti join's left side read that one
    exchange, which AQE's ReuseExchange materializes once. The stop set
    is force-broadcast: it is bounded by construction, independent of
    corpus size (sum(df) = N * avg_shingles_per_doc, so at most
    avg_shingles_per_doc / max_df_frac shingles can exceed
    max_df_frac * N, ~2x a document's shingle count at the 0.5 default).
    N rides in as a broadcast 1-row aggregate, so building the plan runs
    no driver action.
    """
    sh = word_shingle_ids(docs, text_col, id_col, n=n)
    if max_df_frac is None:
        return sh
    n_docs = docs.filter(
        F.size(F.split(F.col(text_col), " ")) >= int(n)
    ).agg(F.count(F.lit(1)).alias("__n_docs"))
    sh = sh.repartition(F.col("shingle_id"))
    counts = sh.groupBy("shingle_id").agg(F.count(F.lit(1)).alias("__df"))
    stop = counts.join(F.broadcast(n_docs)).filter(
        F.col("__df") > F.col("__n_docs") * F.lit(float(max_df_frac))
    ).select("shingle_id")
    return sh.join(F.broadcast(stop), on="shingle_id", how="left_anti")


def minhash_signatures(
    doc_shingles: DataFrame,
    n_hashes: int = 8,
    seed: int = 42,
    shingle_id_col: str = "shingle_id",
) -> DataFrame:
    """MinHash signature per doc: (id, sig array<long> of length n_hashes).

    h_i(x) = (a_i * x' + b_i) mod p with x' = ((x+1) * 2654435761) mod p,
    p = 2^31-1, and deterministic (seeded) odd coefficients — exact integer
    arithmetic, reproducible on any engine (the DuckDB oracle runs the same
    formula). The multiplicative pre-mix matters: ids from dense_rank are
    small dense ints, and an affine map over them is piecewise monotonic
    (few wraps), which collapses min-hash agreement; spreading x over the
    ring first makes each h_i behave like a random permutation (and the +1
    keeps id 0 off the zero fixed point, where every h_i would degenerate
    to its additive constant b_i).
    """
    # all math in long: int32 a*x overflows under ANSI mode
    x = F.col(shingle_id_col).cast("long")
    hashes = [
        affine_hash(x, a, b).alias(f"h{i}")
        for i, (a, b) in enumerate(affine_coeffs(n_hashes, seed))
    ]
    per_hash = doc_shingles.select("id", *hashes)
    mins = per_hash.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def band_rows(
    signatures: DataFrame, n_bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """(id, sig, band, bucket) — one row per (doc, band), bucket = the
    band's signature slice. The single banding definition shared by the
    one-shot miner (:func:`lsh_candidate_pairs`) and the incremental
    signature store (:mod:`..sources.signature_store`): the store's
    batch-vs-history collision join is only equivalent to the one-shot
    self-join if both sides band identically, so the slice expression
    must not drift between them.

    Fails closed at run time unless ``n_bands * rows_per_band <= size(sig)``:
    a band past the end of the signature slices to ``[]`` for every doc,
    and that one shared empty bucket would make every pair a candidate
    (:class:`..pipeline.CleanConfig` also rejects such configs eagerly)."""
    # assert_true is NULL (isNull() True) on every healthy row, so the
    # filter keeps them all; a short signature errors the job
    need = n_bands * rows_per_band
    fits = F.assert_true(
        F.size("sig") >= need,
        F.lit(f"signature length mismatch with the band layout: {n_bands} bands "
              f"x {rows_per_band} rows need {need} positions and a signature "
              f"has fewer; raise n_hashes or band fewer positions"),
    ).isNull()
    return signatures.where(fits).select(
        "id",
        "sig",
        F.posexplode(
            F.array(*[
                F.slice("sig", b * rows_per_band + 1, rows_per_band)
                for b in range(n_bands)
            ])
        ).alias("band", "bucket"),
    )


def signature_agreement(a, b):
    """Fraction of equal positions between two MinHash signature columns
    (names or Columns): the estimated Jaccard of the two shingle sets.
    One zip_with fold over the pair's row, divided by ``size(a)``."""
    matches = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches / F.size(a)


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 2,
    verify_threshold: float | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band bucket.

    Pairs are (id_a < id_b), distinct. The self-join is on (band, bucket) —
    cost is sum of bucket sizes squared, not corpus squared; stop-shingle
    filtering upstream (:func:`stop_capped_shingle_ids`) is what keeps
    buckets small. Banding is exact: every bucket, however large, pairs
    all of its members.

    ``verify_threshold`` FUSES signature verification into the miner: the
    self-join already carries both sides' full signatures, so the
    estimated Jaccard (:func:`signature_agreement`) is one zip_with on the
    joined row, filtered BEFORE the distinct's shuffle. Zero extra joins
    and no re-evaluation of the signature subplan.
    """
    bands = band_rows(signatures, n_bands, rows_per_band)
    carry_a = ["sig"] if verify_threshold is not None else []
    a = bands.select(F.col("id").alias("id_a"),
                     *[F.col(c).alias("__sig_a") for c in carry_a],
                     "band", "bucket")
    b = bands.select(F.col("id").alias("id_b"),
                     *[F.col(c).alias("__sig_b") for c in carry_a],
                     "band", "bucket")
    joined = a.join(b, on=["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
    if verify_threshold is not None:
        joined = joined.filter(
            signature_agreement("__sig_a", "__sig_b") >= verify_threshold
        )
    return joined.select("id_a", "id_b").distinct()


def jaccard_pairs(
    doc_shingles: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >=1 shingle.

    (id_a, id_b, jacc) with id_a < id_b and jacc >= threshold. The shared-
    shingle equi-join prunes the quadratic space; sizes come from one
    aggregate and join back UNHINTED — the per-doc size table is one row
    per document (corpus-sized at 100 TB), so a forced broadcast would OOM
    every executor; AQE broadcasts it only when it is actually small.
    """
    sizes = doc_shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = doc_shingles.select(F.col("id").alias("id_a"), "shingle")
    b = doc_shingles.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jacc",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", "jacc")
    )


def simhash(
    doc_tokens: DataFrame,
    bits: int = 48,
    seed: int = 42,
    id_col: str = "id",
    token_id_col: str = "token_id",
    weight_col: str | None = "weight",
) -> DataFrame:
    """Weighted SimHash fingerprint per doc from (id, token_id[, weight]).

    Bit j of token t = ((token_id * A + B) >> j) & 1 with deterministic odd
    A — exact integer arithmetic (oracle-reproducible). Fingerprint bit j is
    the sign of the weighted sum of (2*bit - 1).

    The default bits=48 follows the corpus-scale sizing rule documented on
    :func:`simhash_candidate_pairs` (band width must grow with
    log2(corpus); 48/4 bands = 12-bit buckets, right for million-doc
    corpora). Small-bit configs are for oracle-scale tests only.
    """
    A, B = simhash_coeffs(seed)
    w = F.col(weight_col) if weight_col else F.lit(1)
    mixed = (F.col(token_id_col).cast("long") * F.lit(A) + F.lit(B)) % F.lit(1 << 62)
    contribs = [
        (w * (F.shiftright(mixed, j).bitwiseAND(F.lit(1)) * 2 - 1)).alias(f"b{j}")
        for j in range(bits)
    ]
    summed = doc_tokens.select(F.col(id_col).alias("id"), *contribs).groupBy("id").agg(
        *[F.sum(f"b{j}").alias(f"b{j}") for j in range(bits)]
    )
    fingerprint = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return summed.select("id", fingerprint.cast("long").alias("simhash"))


def hamming_distance(a, b):
    """Popcount of XOR — pair filter for SimHash near-dups."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    sigs: DataFrame,
    bits: int = 48,
    n_bands: int = 4,
    max_hamming: int | None = None,
    id_col: str = "id",
    sim_col: str = "simhash",
) -> DataFrame:
    """SimHash near-dup pair mining: bit-slice each fingerprint into
    ``n_bands`` contiguous bands; candidate pairs share >= 1 identical
    band (self-equi-join on (band, slice) — band-keyed, never corpus^2);
    survivors filtered to hamming distance <= ``max_hamming`` (default
    n_bands - 1, the pigeonhole bound: any pair within that distance has
    at least one untouched band, so recall is EXACT, not probabilistic).

    Returns (id_a, id_b, hamming) with id_a < id_b.

    SIZING AT SCALE: each band has 2^(bits/n_bands) buckets and the
    candidate join emits ~N^2 / 2^(bits/n_bands) pairs per band — band
    width must grow with log2(corpus) or the buckets go quadratic. The
    defaults (bits=48, n_bands=4 -> 12-bit bands) follow that rule for
    million-doc corpora; ``simhash`` supports bits up to 62 in one int64
    fingerprint. The 16-bit configs in tests/driver queries are
    oracle-scale, not corpus-scale. Degenerate fingerprints (e.g. empty
    or templated docs) all land in one slice and pair quadratically: no
    bucket is dropped, so the pigeonhole recall guarantee holds for every
    pair.
    """
    if bits % n_bands:
        raise ValueError("n_bands must divide bits evenly")
    if max_hamming is None:
        max_hamming = n_bands - 1
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole bound "
            f"n_bands-1={n_bands - 1}: recall would silently become "
            "probabilistic — raise n_bands (or bits) instead"
        )
    width = bits // n_bands
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(sim_col).alias("__sh"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col(sim_col), b * width).bitwiseAND(F.lit(mask))
                for b in range(n_bands)
            ])
        ).alias("__band", "__slice"),
    )
    a = banded.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"),
                      "__band", "__slice")
    b = banded.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"),
                      "__band", "__slice")
    return (
        a.join(b, on=["__band", "__slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                hamming_distance(F.col("__sa"), F.col("__sb")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)  # drop BEFORE the
        .distinct()                               # distinct's shuffle
    )


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    n: int = 13,
    return_flags: bool = False,
    flag_col: str = "contaminated",
) -> DataFrame:
    """Benchmark decontamination: remove (or flag) training documents
    sharing any word ``n``-gram with an evaluation/benchmark set — the
    standard 13-gram overlap rule from LLM training-data pipelines.

    Both sides shingle through :func:`word_shingle_ids` (one char pass
    per doc, integer ids, no shingle strings materialized), so the
    overlap test is one semi-join on hashed ids. The eval side is always
    broadcast, which is safe BY CONSTRUCTION here — unlike corpus-sized
    tables, the distinct n-gram set of an eval suite is bounded by the
    benchmark's own size (KB-MB even for large suites), the same
    bounded-side rule as ``vocab.remove_stopwords``.

    Documents shorter than ``n`` words produce no shingles and are never
    flagged (exactly the reference rule: an overlap needs a full n-gram).
    ``return_flags=True`` returns every doc with a ``flag_col``
    (default ``contaminated``) boolean instead of dropping the flagged
    ones.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if return_flags and flag_col in docs.columns:
        # same contract as detect_language: never silently shadow or
        # ambiguate an existing column (e.g. a prior decontamination run)
        raise ValueError(
            f"output column {flag_col!r} already exists; pass flag_col="
        )
    eval_text_col = eval_text_col or text_col
    ev = eval_df.select(F.lit(0).alias("__eid"), F.col(eval_text_col).alias("__t"))
    ev_sh = F.broadcast(
        word_shingle_ids(ev, "__t", "__eid", n=n)
        .select("shingle_id")
        .distinct()
    )
    tr_sh = word_shingle_ids(docs, text_col, id_col, n=n)
    contaminated = (
        tr_sh.join(ev_sh, on="shingle_id", how="left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    if return_flags:
        flag = contaminated.withColumn(flag_col, F.lit(True))
        return docs.join(flag, on=id_col, how="left").withColumn(
            flag_col, F.coalesce(F.col(flag_col), F.lit(False))
        )
    return docs.join(contaminated, on=id_col, how="left_anti")


def boilerplate_fraction(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 5,
) -> DataFrame:
    """Cross-document boilerplate signal: for each doc, the fraction of
    its distinct word 3-grams that appear in at least ``min_df``
    documents corpus-wide (headers, footers, license blurbs, navigation
    chrome — the template text that within-doc repetition signals
    (:func:`~.text.repetition_features`) cannot see because it repeats
    *across* documents, not inside one).

    Appends three columns: ``n_shingles`` (distinct n-grams in the doc),
    ``n_boiler`` (of those, how many are corpus-boilerplate), and
    ``boilerplate_frac`` (their ratio; 0.0 for docs shorter than 3
    words). Filter on ``boilerplate_frac`` to drop template-dominated
    docs, the usual cleaning rule.

    Scale: one distinct over (doc, shingle-hash) pairs (the same
    single-char-pass hashing as :func:`word_shingle_ids` — no shingle
    strings materialized), one map-side-combined count by shingle to find
    the heavy set, one semi-join back, one count by doc. The heavy set is
    bounded by construction (#heavy <= total_pairs / min_df), so at
    corpus scale AQE typically broadcasts it; nothing here is forced.
    Counting distinct n-grams (sets, not multisets) keeps every
    aggregation a plain count and makes the signal insensitive to
    within-doc repetition, which is measured separately.
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2 (1 flags everything), got {min_df}")
    pairs = word_shingle_ids(docs, text_col, id_col)
    heavy = (
        pairs.groupBy("shingle_id")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("shingle_id")
    )
    totals = pairs.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    flagged = (
        pairs.join(heavy, on="shingle_id", how="left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    per_doc = totals.join(flagged, on="id", how="left").select(
        F.col("id").alias(id_col),
        "n_shingles",
        F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
    )
    return docs.join(per_doc, on=id_col, how="left").select(
        "*",
        (
            F.coalesce(F.col("n_boiler"), F.lit(0))
            / F.greatest(F.coalesce(F.col("n_shingles"), F.lit(0)), F.lit(1))
        ).alias("boilerplate_frac"),
    ).withColumn("n_shingles", F.coalesce(F.col("n_shingles"), F.lit(0))).withColumn(
        "n_boiler", F.coalesce(F.col("n_boiler"), F.lit(0))
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: of the document's DISTINCT word
    3-gram shingles, the fraction that occur in NO other document —
    the complement of :func:`boilerplate_fraction` at ``min_df=2``.
    Novelty near 1.0 means the document contributes genuinely new text;
    near 0.0 means everything in it already exists elsewhere (a fuzzy-
    duplicate / template signal that survives word-level edits which
    defeat exact dedup).

    Returns ``(id_col, n_shingles, n_novel, novelty_frac)``; documents
    shorter than 3 words have no shingles and are absent (the same
    contract as the LSH miner they share shingles with).

    Scale: the document-frequency aggregation and the join back both key
    on ``shingle_id``, so the exchange introduced by the groupBy is
    reused for the join (one shuffle of the pair set, not two); the
    per-document fold partial-aggregates map-side. No forced broadcasts —
    the shingle space is unbounded.
    """
    pairs = word_shingle_ids(docs, text_col, id_col)
    dfreq = pairs.groupBy("shingle_id").agg(F.count(F.lit(1)).alias("__df"))
    return (
        pairs.join(dfreq, on="shingle_id")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__df") == 1).cast("long")).alias("n_novel"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            "n_novel",
            (F.col("n_novel") / F.col("n_shingles")).alias("novelty_frac"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-SPAN coverage: the fraction of each
    document's word positions covered by at least one length-``n`` window
    whose corpus-wide occurrence count (all positions, including repeats
    WITHIN the same document) is >= ``min_count``. This is the
    span-granular signal behind substring-level training-data dedup (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): document-level near-dup misses a boilerplate footer pasted
    into a million otherwise-unique pages; this measures exactly how much
    of each doc is such repeated material, and a downstream cut can drop
    or trim the high-coverage tail.

    Returns ``(id_col, n_tokens, dup_tokens, dup_frac)`` for EVERY input
    document (docs shorter than ``n`` words have 0 coverage). ``n_tokens``
    counts single-space-split words — the same positions the windows index.

    Window identity uses the dual ~62-bit hash family (collisions here
    overstate coverage that downstream cuts act on — same rationale as
    :func:`remove_duplicate_spans`).

    Plan shape: ONE positional shingle pass per doc (the shared rolling-
    hash staging, no strings through the shuffle — the expensive word-
    hash fold runs once, not once per consumer), one shuffle on the
    window hash where a whole-partition count window marks duplicated
    occurrences in place. The tradeoff vs groupBy + join-back is
    deliberate: the join-back shape would re-plan the fold (its two
    exchanges differ, so ReuseExchange cannot merge them — 2x CPU over
    the whole corpus) but is AQE-skew-splittable, while a window group
    cannot be split — a degenerate window ("! ! ! !" at 10^8
    occurrences) lands its ~2.4 GB of narrow (id, pos, sid) rows on one
    sort-spilling task. That straggler FINISHES (spill, not OOM) and the
    hot windows are precisely the boilerplate this op exists to find, so
    the once-computed fold wins; :func:`remove_duplicate_spans` needs
    the same window anyway (its first-occurrence rank has no
    aggregate-shaped alternative). Then per-doc interval merging runs
    via two same-sort window passes
    (gaps-and-islands: a window opens a new island only when it starts
    past the running max end, so each island is contiguous and coverage
    sums exactly, overlaps never double-count). The island windows and
    the final aggregate share one hash partitioning on the doc id; total
    cost is two shuffles of the position table regardless of corpus size.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    staged = stage_word_hashes(docs, text_col, id_col, dual=True)
    sids = compose_ngrams(n, dual=True)
    occ = staged.select(
        "id", F.posexplode(sids).alias("pos", "sid")
    )
    hits = (
        occ.withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy("sid")))
        .filter(F.col("__cnt") >= min_count)
        .select("id", "pos", (F.col("pos") + n - 1).alias("__end"))
    )
    w_prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = hits.withColumn("__pm", F.max("__end").over(w_prev))
    hits = hits.withColumn(
        "__island",
        F.sum(
            F.when(
                F.col("__pm").isNull() | (F.col("pos") > F.col("__pm")), 1
            ).otherwise(0)
        ).over(w_run),
    )
    per_doc = (
        hits.groupBy("id", "__island")
        .agg((F.max("__end") - F.min("pos") + 1).alias("__cov"))
        .groupBy("id")
        .agg(F.sum("__cov").alias("dup_tokens"))
    )
    # token counts come from a plain split of the RAW docs — never from
    # the word-hash array (sizing __wh would run the whole per-word fold
    # just to count words)
    doc_tokens = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).alias("n_words"),
    )
    return (
        doc_tokens
        .join(per_doc, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_words").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(
                F.col("n_words") > 0,
                F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_words"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def token_shingle_ids(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Distinct (id, shingle_id) pairs over INT TOKEN ARRAYS — the
    pre-tokenized-sequence analog of :func:`word_shingle_ids` (the
    north-rule input ships ``tokens array<int>``, no text to re-split).
    shingle_id is the polynomial rolling hash of the n consecutive token
    values, ``fold (h*BASE + pmod(tok, MOD)) % MOD`` — the same hash
    family as the word path, so every downstream consumer
    (:func:`minhash_signatures`, :func:`lsh_candidate_pairs`,
    :func:`boilerplate_fraction`-style counts) composes unchanged.

    Unlike the word path there is no per-word inner hash to amortize, so
    the direct per-index fold is O(n) per shingle (O(len * n) per doc,
    n is single digits) with no multi-reference alias to stage — the
    tokens column is a cheap input reference that Catalyst may inline
    freely. pmod keeps negative token ids (some vocabularies use them as
    sentinels) on the positive ring, matching SQL ``%`` replays via
    pmod there too. Docs shorter than n yield no rows (consistent with
    word_shingle_ids and the sub-n decontaminate contract).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from ..functions import ensure_min_parallelism

    df = ensure_min_parallelism(df)  # CPU-bound folds: spread tiny inputs
    ids = token_window_ids(F.col(tokens_col), n)
    # row-local distinct, same contract as word_shingle_ids
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(ids)).alias("shingle_id"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Rewrite each document with duplicated spans REMOVED — the rewrite
    step of substring-level dedup (Lee et al. 2022): where
    :func:`duplicated_spans` only measures coverage, this drops the
    covered tokens and keeps the text.

    Contract (deterministic under any partitioning): occurrences of each
    duplicated window hash (corpus count >= ``min_count``) are ordered by
    ``(id, pos)``; the FIRST occurrence keeps its tokens, every later one
    marks its ``n`` positions for removal. A position marked by ANY
    non-first occurrence is removed even if some other window's first
    occurrence also covers it (removal wins — aggressive, simple, and
    exactly replayable; the alternative "keep shields" rule is
    order-dependent). Rewritten text re-joins surviving words with single
    spaces, preserving empty tokens, so documents without removals
    round-trip byte-identically.

    Returns ``(id_col, text_col, n_tokens, n_removed)`` for every input
    document (fully-removed docs get the empty string).

    Window identity uses the DUAL ~62-bit hash family (two independent
    polynomial folds — the dual ids of :mod:`.hashing`): this
    operator deletes text on hash equality, so the 31-bit family's
    corpus-scale birthday collisions would destroy unique tokens.

    Scale shape: three token-scale stages, all linear — (1) the
    occurrence table shuffles once on the window hash for the global
    first-occurrence rank (count + row_number share the one sort), (2)
    marked occurrences explode to at most ``n x marks`` removal
    positions, (3) the word-position table anti-joins the removal set and
    reassembles per doc. No forced broadcasts; no step is quadratic in
    corpus or document size.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    staged = stage_word_hashes(docs, text_col, id_col, dual=True)
    sids = compose_ngrams(n, dual=True)
    occ = staged.select("id", F.posexplode(sids).alias("pos", "sid"))
    w_rank = Window.partitionBy("sid").orderBy("id", "pos")
    w_all = Window.partitionBy("sid")
    marked = (
        occ.withColumn("__rk", F.row_number().over(w_rank))
        .withColumn("__cnt", F.count(F.lit(1)).over(w_all))
        .filter((F.col("__cnt") >= min_count) & (F.col("__rk") > 1))
    )
    removed = marked.select(
        "id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("__rpos"),
    ).distinct()
    words = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("__wpos", "__word"),
    )
    kept = words.join(
        removed,
        on=(words["id"] == removed["id"]) & (words["__wpos"] == removed["__rpos"]),
        how="left_anti",
    )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__wpos", "__word"))),
                lambda s: s["__word"],
            ),
        ).alias("__text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), " ")).alias("__n_tokens"),
    )
    return (
        base.join(rebuilt, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            F.col("__n_tokens").cast("long").alias("n_tokens"),
            (F.col("__n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
