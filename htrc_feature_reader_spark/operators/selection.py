"""Importance-weighted data selection: DSIR-style hashed-n-gram
importance weights and deterministic Gumbel top-k resampling.

Public method (Xie et al., "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023): represent every document as a bag
of hashed word n-grams over ``n_buckets`` buckets, fit two multinomial
bucket distributions — one on the raw crawl, one on a (small, curated)
target corpus — and weight each raw document by the log-likelihood ratio
of its features under target vs raw. Resampling k documents with
probability proportional to the weights then yields a raw subset whose
hashed-feature distribution matches the target. No reference-repo analog
(the reference is a per-volume feature reader); this is part of the
training-data-pipeline layer, like `operators/dedup.py`.

Everything is declarative Catalyst (split / transform / explode /
groupBy) and exact-integer hashing from `operators/hashing.py`, the
family every oracle replays, so DuckDB buckets bit-identically.
Randomness for the resample comes from the shared seeded key hash
(`hashing.key_hash` + `mix`), not ``rand()``:
seed-pure, partition-independent, replayable.

Scale notes:
- The bucket-distribution table has AT MOST ``n_buckets`` rows by
  construction (a caller parameter, default 8192) — unlike a token
  vocabulary it cannot grow with the corpus, so broadcasting it is safe
  at any scale. This is the deliberate contrast with `tf_idf`/`bm25`,
  whose vocabulary-keyed tables are unbounded and carry NO hint.
- The target corpus is aggregated once into that bounded table; the raw
  corpus is touched by one explode + one map-side-combinable groupBy per
  call. Nothing driver-side, nothing quadratic.
- ``importance_resample`` is a global top-k: sort + limit(k) compiles to
  TakeOrderedAndProject (per-partition heap of k, k-bounded merge), not
  a full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import (
    MOD,
    compose_ngrams,
    key_hash,
    key_hash_sql,
    mix,
    mix_sql,
    ngram_strings_sql,
    rolling_hash_sql,
    stage_word_hashes,
)


def hashed_ngram_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    ngrams: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """One row per word-n-gram INSTANCE (not distinct — DSIR features are
    counts): ``(id, bucket)`` with ``bucket = rolling_hash(gram) %
    n_buckets``. Words are the non-empty space-separated pieces; grams
    for every ``n`` in ``ngrams`` share one split pass.

    Bit-identical to ``rolling_hash(concat_ws(' ', w_i..w_{i+n-1}))`` but
    each word's characters are hashed ONCE and n-gram hashes are composed
    from word-level ``(hash, base^len)`` pairs via
    ``H(a||b) = (H(a)*base^len(b) + H(b)) mod p`` (:mod:`.hashing`). For
    the default ``ngrams=(1, 2)`` that is one char pass instead of three,
    and no bigram strings are ever materialized.
    """
    staged = stage_word_hashes(docs, text_col, id_col, drop_empty_words=True)
    parts = [compose_ngrams(n) for n in ngrams]
    ids = F.concat(*parts) if len(parts) > 1 else parts[0]
    return staged.select("id", F.explode(ids).alias("__gh")).select(
        "id", F.pmod(F.col("__gh"), F.lit(int(n_buckets))).alias("bucket")
    )


def ngram_buckets_sql(
    text_col: str = "text",
    n_buckets: int = 8192,
    ngrams: tuple[int, ...] = (1, 2),
) -> str:
    """DuckDB replay of :func:`hashed_ngram_buckets`'s gram->bucket map,
    as a ``SELECT``-able expression over a ``l`` word-list column
    (``list_filter(string_split(text, ' '), w -> w <> '')``)."""
    parts = [ngram_strings_sql("l", n) for n in ngrams]
    grams = " || ".join(parts)
    rh = rolling_hash_sql("g")
    return f"list_transform({grams}, g -> ({rh}) % {int(n_buckets)})"


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8192,
    ngrams: tuple[int, ...] = (1, 2),
    alpha: float = 1.0,
) -> DataFrame:
    """Per-raw-document DSIR log importance weight:

    ``logw(d) = sum over gram instances g in d of
    [ log p_target(bucket(g)) - log p_raw(bucket(g)) ]``

    with add-``alpha`` smoothed bucket multinomials ``p(b) = (c_b +
    alpha) / (total + alpha * n_buckets)``. Returns one row per ``raw``
    document — row-preserving: empty/whitespace docs (no grams) get
    ``n_feats = 0, logw = 0.0``.

    Plan: two explode+groupBy bucket counts (map-side combinable), a
    full-outer bucket join folded with the 1-row totals into a <=
    ``n_buckets``-row ratio table, broadcast (bounded by construction —
    see module docstring), then one groupBy over the raw gram stream.
    """
    rb = hashed_ngram_buckets(raw, text_col, id_col, n_buckets, ngrams)
    tb = hashed_ngram_buckets(target, text_col, id_col, n_buckets, ngrams)
    rc = rb.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tc = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_tgt"))
    dist = (
        rc.join(tc, on="bucket", how="full_outer")
        .fillna(0, subset=["c_raw", "c_tgt"])
    )
    totals = dist.agg(
        F.sum("c_raw").alias("__t_raw"), F.sum("c_tgt").alias("__t_tgt")
    )
    a = float(alpha)
    b = float(int(n_buckets))
    ratio = (
        dist.join(F.broadcast(totals))  # 1-row cross join
        .select(
            "bucket",
            (
                F.log((F.col("c_tgt") + a) / (F.col("__t_tgt") + a * b))
                - F.log((F.col("c_raw") + a) / (F.col("__t_raw") + a * b))
            ).alias("__lr"),
        )
    )
    per_doc = (
        rb.join(F.broadcast(ratio), on="bucket")  # bounded: <= n_buckets rows
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("__lr").alias("logw"),
        )
    )
    ids = raw.select(F.col(id_col).alias("id"))
    return (
        ids.join(per_doc, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_feats", F.lit(0).cast("long")).alias("n_feats"),
            F.coalesce("logw", F.lit(0.0)).alias("logw"),
        )
    )


def gumbel_key(df: DataFrame, id_col: str, logw_col: str, seed: int) -> Column:
    """The deterministic Gumbel perturbation key ``logw + G(id)`` where
    ``G = -ln(-ln(u))`` and ``u = (mix(key_hash(id)) + 1) / (2^31 + 1)``,
    STRICTLY inside (0, 1): mix is in [0, 2^31-1], so u = 1 exactly would
    otherwise be reachable — and ln(-ln(1)) is NULL on Spark but -inf on
    DuckDB (a silent cross-engine divergence plus a null key). One
    exact-integer hash, one IEEE double division — identical on both
    engines bit-for-bit. Top-k by this key samples k documents WITHOUT
    replacement with probability proportional to ``exp(logw)`` (the
    Gumbel-max trick) — seed-pure, no ``rand()``."""
    u = (mix(key_hash(df, id_col, seed), seed) + F.lit(1)) / F.lit(float(MOD + 2))
    return F.col(logw_col) - F.log(-F.log(u))


def gumbel_key_sql(
    id_col: str, logw_col: str, seed: int, string_key: bool = False
) -> str:
    """DuckDB replay of :func:`gumbel_key` (same hash, same constants)."""
    h = mix_sql(key_hash_sql(id_col, seed, string_key), seed)
    u = f"((({h}) + 1) / {float(MOD + 2)!r})"
    return f"({logw_col} - ln(-ln({u})))"


def importance_resample(
    weights: DataFrame,
    k: int,
    seed: int = 0,
    id_col: str = "doc_id",
    logw_col: str = "logw",
) -> DataFrame:
    """Select ``k`` documents without replacement, with probability
    proportional to ``exp(logw)``, deterministically (seed-pure): attach
    the Gumbel key and take the global top-k. Returns the input rows
    plus ``gumbel_key``, the selected k only."""
    keyed = weights.withColumn(
        "gumbel_key", gumbel_key(weights, id_col, logw_col, seed)
    )
    return keyed.orderBy(F.col("gumbel_key").desc()).limit(int(k))


def sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Uniform random sample of up to ``k`` rows per group, WITHOUT
    replacement, seed-pure — eval-set carving, per-domain inspection
    samples, capped stratified subsets. The "randomness" is the shared
    ``mix(key_hash(id))`` integer family (no ``rand()``): same seed =>
    same sample on any cluster, any partitioning, any day, and the
    DuckDB oracle replays the exact draw.

    Groups with <= k rows are kept whole. PRECONDITION: ``id_col`` must
    be unique — rows sharing an id get identical (hash, id) sort keys,
    which would make the kept set at the k boundary depend on the
    physical row order. With unique ids ties cannot occur (the sort key
    is the id's integer hash, tie-broken by the id itself), so the
    selection is total-order deterministic.

    Scale: one window pass — exchange on ``group_col`` + in-group sort
    of the (group, hash) projection. For the global (ungrouped) variant
    use :func:`importance_resample` with constant weights, which
    compiles to TakeOrderedAndProject instead of a full sort. Skewed
    groups sort their own partition only; the output is <= k * n_groups
    rows.
    """
    from pyspark.sql.window import Window

    key = mix(key_hash(df, id_col, seed), seed)
    w = Window.partitionBy(group_col).orderBy(
        key.desc(), F.col(id_col).desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )
