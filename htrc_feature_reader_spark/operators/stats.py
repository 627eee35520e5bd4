"""Dataset-card statistics: the per-source corpus summary a training run
is configured from (mixture design inputs, imbalance detection, length
distributions for packing/bucketing choices).

One partial+final hash aggregate over the corpus — the output is
#sources-sized, so at 100 TB this is a single map-side-combined pass with
a tiny shuffle; no driver-side iteration, no sampling. Quantiles use
``percentile`` (exact, interpolated), not ``approx_percentile``: the cost
of exactness is a per-group sort of the length column only (narrow), and
the result is engine-portable (DuckDB's ``quantile_cont`` computes the
identical estimator, so oracle rows are value-exact instead of
approximate-within-tolerance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .hashing import MOD, key_hash, key_hash_sql, mix, mix_sql


def corpus_stats(
    docs: DataFrame,
    source_col: str = "source",
    len_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-``source_col`` summary: doc count, total/mean/min/max of
    ``len_col``, exact interpolated quantiles (one ``q<pct>`` column per
    requested quantile), and the source's share of corpus documents
    (window over the 1-row total — no second scan)."""
    for q in quantiles:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {q} outside [0, 1]")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(len_col).alias("total_len"),
        F.avg(len_col).alias("mean_len"),
        F.min(len_col).alias("min_len"),
        F.max(len_col).alias("max_len"),
    ] + [
        F.percentile(F.col(len_col), F.lit(float(q))).alias(
            f"q{int(round(q * 100)):02d}"
        )
        for q in quantiles
    ]
    per = docs.groupBy(source_col).agg(*aggs)
    from pyspark.sql.window import Window

    total = F.sum("n_docs").over(Window.partitionBy())
    return per.withColumn(
        "doc_share", F.col("n_docs") / total
    )


def corpus_stats_sql(
    source_col: str = "source",
    len_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    table: str = "documents",
) -> str:
    """DuckDB replay of :func:`corpus_stats` (``quantile_cont`` is the
    same interpolated estimator as Spark's ``percentile``)."""
    qcols = ", ".join(
        f"quantile_cont({len_col}, {float(q)}) AS q{int(round(q * 100)):02d}"
        for q in quantiles
    )
    return f"""
      SELECT {source_col},
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum({len_col}) AS BIGINT) AS total_len,
             avg({len_col}) AS mean_len,
             CAST(min({len_col}) AS BIGINT) AS min_len,
             CAST(max({len_col}) AS BIGINT) AS max_len,
             {qcols},
             count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS doc_share
      FROM {table} GROUP BY {source_col}
    """


def top_terms(
    docs: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Exact heavy-hitter vocabulary: the ``k`` most frequent whitespace
    terms per ``group_col``, with term frequency ``tf``, document
    frequency ``df``, and a tie-stable ``rank`` (tf desc, term asc —
    deterministic across runs and engines). Terms are case-sensitive.

    Scale: the exploded word stream never survives past the first
    aggregation — ``groupBy(group, term)`` partial-aggregates map-side,
    so the only shuffle carries #distinct(group, term) rows, and the
    top-k window then runs over that (already small) relation. ``df``
    uses count(DISTINCT id) inside the same aggregate (one Expand of the
    distinct column, no extra scan). Exact by design: a count-min sketch
    saves nothing here because the distinct-term relation is already the
    shuffle payload, and exactness keeps the result oracle-checkable.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    word = F.explode(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    ).alias("term")
    exploded = docs.select(group_col, F.col(id_col).alias("__id"), word)
    counts = exploded.groupBy(group_col, "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("__id").alias("df"),
    )
    order = [F.col("tf").desc(), F.col("term").asc()]
    # rank-filter form: Spark's WindowGroupLimit rewrites this into a
    # partial per-partition group limit BEFORE the shuffle, so only ~k
    # rows per group per mapper move — a distributed top-k, not a full
    # per-group sort
    ranked = counts.withColumn(
        "rank", F.row_number().over(Window.partitionBy(group_col).orderBy(*order))
    )
    return ranked.filter(F.col("rank") <= k)


def source_ngram_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Cross-source n-gram contamination summary: per source, how much of
    its distinct word ``n``-gram vocabulary also appears in at least one
    OTHER source. High overlap between two web snapshots usually means
    re-crawled content (deduplicate before mixing); high overlap between
    a benchmark-derived source and everything else is a leakage signal
    the mixture designer must see before training.

    Returns ``(source, n_shingles, n_shared, shared_frac)`` where
    ``n_shingles`` counts the source's distinct shingles and ``n_shared``
    those present in >= 2 sources.

    Scale: the shingle set is built per SOURCE directly (the shingle
    hasher keyed by ``source_col`` instead of the doc id — no doc-level
    intermediate, no join to reattach source), so the pair set is at most
    #sources x vocabulary. The span count groups on ``shingle_id`` and
    the join back reuses that exchange; the final per-source rollup is a
    tiny map-side-combined aggregate. No forced broadcasts.
    """
    from .dedup import word_shingle_ids

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # source_col is a NON-unique shingle key (many docs share a source),
    # so word_shingle_ids' row-local distinct only dedups within a doc —
    # the cross-doc (source, shingle) dedup must happen here explicitly
    pairs = word_shingle_ids(docs, text_col, id_col=source_col, n=n).distinct()
    spans = pairs.groupBy("shingle_id").agg(F.count(F.lit(1)).alias("__ns"))
    return (
        pairs.join(spans, on="shingle_id")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__ns") > 1).cast("long")).alias("n_shared"),
        )
        .select(
            F.col("id").alias(source_col),
            "n_shingles",
            "n_shared",
            (F.col("n_shared") / F.col("n_shingles")).alias("shared_frac"),
        )
    )


def token_drift(
    seqs: DataFrame,
    token_col: str = "tokens",
    source_col: str = "source",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-source token-distribution drift monitor: smoothed
    ``KL(p_source || p_corpus)`` over the token-id vocabulary, for
    watching an ingest stream (is today's crawl drop distributionally
    unlike the corpus?) and mixture design (which sources are token-level
    outliers?). Works on the north-rule sequences shape (``tokens``
    array<int>); pass an exploded word table via a 1-element array if
    needed.

    Distributions are add-``alpha`` smoothed over the CORPUS vocabulary V
    (every token id seen anywhere): ``p_s(t) = (c_st + alpha) / (n_s +
    alpha*V)``, ``p_c(t) = (c_t + alpha) / (N + alpha*V)``. Tokens the
    source never emitted still carry mass ``p0 = alpha / (n_s +
    alpha*V)`` each — the naive sum over them is a #sources x V cross
    join, which this implementation avoids with a CLOSED-FORM absent-mass
    correction:

    ``KL = sum_{t in s} p_s(t) (ln p_s(t) - ln p_c(t))
         + p0 * [ (V - V_s) ln p0 - (S_all - S_s) ]``

    where ``S_all = sum over ALL t of ln p_c(t)`` (one corpus scalar) and
    ``S_s = sum over t in s of ln p_c(t)`` (already computed in the
    per-source pass). Exactly the full-vocabulary KL, with only
    token-keyed aggregations.

    Returns ``(source, n_tokens, v_present, kl)``.

    Scale: one explode feeding two map-side-combinable counts (per
    (source, token) and per token); the (source, token) -> token join is
    vocabulary-keyed and therefore UNHINTED (unbounded at web scale —
    same contract as tf_idf); the two 1-row constant funnels (N, V,
    S_all) broadcast. Output is #sources rows.
    """
    toks = seqs.select(
        F.col(source_col).alias("source"), F.explode(token_col).alias("tok")
    )
    ct = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_t"))
    consts = ct.agg(
        F.sum("c_t").alias("__N"), F.count(F.lit(1)).alias("__V")
    )
    a = float(alpha)
    # ln p_c(t) per token, then the corpus scalar S_all (second 1-row funnel)
    ct = ct.join(F.broadcast(consts)).withColumn(
        "__ln_pc",
        F.log((F.col("c_t") + a) / (F.col("__N") + a * F.col("__V"))),
    )
    s_all = ct.agg(F.sum("__ln_pc").alias("__S_all"))

    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st"))
    joined = st.join(ct.select("tok", "__ln_pc"), on="tok")  # unhinted: AQE
    totals = st.groupBy("source").agg(F.sum("c_st").alias("n_tokens"))
    per_src = (
        joined.join(F.broadcast(totals.select("source", "n_tokens")), on="source")
        .join(F.broadcast(consts))
        .withColumn(
            "__p_s",
            (F.col("c_st") + a) / (F.col("n_tokens") + a * F.col("__V")),
        )
        .groupBy("source", "n_tokens", "__V")
        .agg(
            F.count(F.lit(1)).alias("v_present"),
            F.sum(
                F.col("__p_s") * (F.log("__p_s") - F.col("__ln_pc"))
            ).alias("__present_kl"),
            F.sum("__ln_pc").alias("__S_s"),
        )
    )
    p0 = a / (F.col("n_tokens") + a * F.col("__V"))
    absent = p0 * (
        (F.col("__V") - F.col("v_present")) * F.log(p0)
        - (F.col("__S_all") - F.col("__S_s"))
    )
    return (
        per_src.join(F.broadcast(s_all))  # 1-row cross join
        .select(
            "source",
            "n_tokens",
            "v_present",
            (F.col("__present_kl") + absent).alias("kl"),
        )
    )


def group_quantile(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    q: float = 0.5,
) -> DataFrame:
    """Per-group discrete quantile — ``percentile_disc`` semantics (the
    smallest actual value whose cumulative distribution reaches ``q``),
    one row per group: ``(group, threshold)``.

    Exact, via one window pass: ``cume_dist()`` over the group ordered
    by value, filter ``>= q``, min per group — one exchange + in-group
    sort of the (group, value) projection ONLY (never the full row).
    Because the returned statistic is a value at a rank, ties and
    duplicate values are handled by definition, and DuckDB's
    ``percentile_disc`` reproduces it exactly — no interpolation, no
    float averaging of neighbors, and no sketch (the reference computes
    no approximate aggregates).
    """
    if not (0.0 < q <= 1.0):
        raise ValueError(f"q={q} outside (0, 1]")
    # NULL values are excluded BEFORE the window: cume_dist counts every
    # partition row (NULLs sort first), so leaving them in shifts both
    # rank and denominator and the result diverges from percentile_disc
    # and from DuckDB's quantile_disc (ADVICE r5)
    return (
        df.select(F.col(group_col).alias("group"), F.col(value_col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .withColumn("__cd", F.cume_dist().over(
            Window.partitionBy("group").orderBy("__v")
        ))
        .filter(F.col("__cd") >= float(q))
        .groupBy("group")
        .agg(F.min("__v").alias("threshold"))
    )


def filter_by_group_quantile(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    q: float = 0.5,
    keep: str = "ge",
) -> DataFrame:
    """Quantile-gated filtering — "keep each source's top (1-q) by
    quality score": join each row's group to its :func:`group_quantile`
    threshold and keep rows with ``value >= threshold`` (``keep="ge"``,
    the top tail) or ``value < threshold`` (``keep="lt"``, the bottom
    tail — for inspecting what a gate WOULD drop). Returns input rows
    plus the ``__threshold`` column.

    Scale: the threshold table is #groups-sized but a group column is
    NOT bounded by construction (a crawl can have millions of domains) —
    the join is deliberately UNHINTED, AQE picks broadcast vs shuffle
    from the actual size (same contract as tf_idf's vocabulary join).

    NULL handling: rows with a NULL group never match the inner
    threshold join and are dropped; rows with a NULL value satisfy
    neither ``keep='ge'`` nor ``keep='lt'`` and are dropped by the
    predicate — so the two ``keep`` modes partition only the
    non-NULL-group, non-NULL-value rows, not the full input. Route NULLs
    explicitly beforehand if a gate audit needs to account for them.
    """
    if keep not in ("ge", "lt"):
        raise ValueError(f"keep={keep!r}; expected 'ge' or 'lt'")
    thr = group_quantile(df, value_col, group_col, q)
    joined = df.join(
        thr.withColumnRenamed("group", group_col), on=group_col
    ).withColumnRenamed("threshold", "__threshold")
    pred = (
        F.col(value_col) >= F.col("__threshold")
        if keep == "ge"
        else F.col(value_col) < F.col("__threshold")
    )
    return joined.filter(pred)


def distinct_sampled(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    rate_inv: int = 16,
    seed: int = 31,
) -> DataFrame:
    """Per-group approximate distinct count by hash-threshold distinct
    sampling (Gibbons' distinct sampler) — the deterministic alternative
    to HLL: count EXACTLY the distinct values whose shared decision hash
    (:func:`~.hashing.key_hash`, the sample_mixture/split family) lands
    in the lowest ``1/rate_inv`` of the hash space, then scale by
    ``rate_inv``.

    Why not ``approx_count_distinct``: HLL sketches are
    implementation-defined (register layout differs per engine), so the
    estimate can't be replayed — this estimator depends only on
    (value, seed) and integer arithmetic, so DuckDB reproduces it BIT
    EXACTLY (:func:`distinct_sampled_sql`), it is stable across runs and
    partitionings, and the per-value decision never changes as the
    corpus grows (a value's hash is fixed — estimates are comparable
    across ingest batches, which HLL merges also give but resampling
    schemes don't).

    Scale: the threshold test is one narrow predicate — at 100 TB only
    ~1/rate_inv of the distinct mass ever reaches the count-distinct
    shuffle; relative error ~= 1/sqrt(true_distinct / rate_inv).
    Reference has no analog (its stats are pandas value_counts,
    feature_reader.py).

    Returns (group_col, sampled_distinct, est_distinct) — ``est`` is
    ``sampled * rate_inv`` (exact long arithmetic).
    """
    if rate_inv < 1:
        raise ValueError(f"rate_inv={rate_inv}; expected >= 1")
    # the mix finalizer matters here: threshold membership over a SMALL
    # consecutive-id population sees key_hash's affine lattice (150
    # consecutive ids can ALL miss a 1/8 threshold window); the xorshift
    # rounds decorrelate neighbors, same as shuffle_sequences
    h = mix(key_hash(df, value_col, seed), seed)
    # rate_inv == 1 is the exact-count identity: skip the threshold test
    # entirely (h < MOD would still drop values whose mixed hash equals
    # MOD — reachable after the xorshift finalizer)
    kept = df if rate_inv == 1 else df.filter(h < F.lit(MOD // rate_inv))
    return kept.groupBy(group_col).agg(
        F.count_distinct(F.col(value_col)).alias("sampled_distinct"),
        (F.count_distinct(F.col(value_col)) * F.lit(int(rate_inv))).alias(
            "est_distinct"
        ),
    )


def distinct_sampled_sql(
    value_col: str,
    group_col: str = "source",
    rate_inv: int = 16,
    seed: int = 31,
    table: str = "documents",
    string_key: bool = False,
) -> str:
    """DuckDB replay of :func:`distinct_sampled` — same integer hash,
    same threshold, same scaling; bit-exact including boundary values."""
    h = mix_sql(key_hash_sql(value_col, seed, string_key), seed)
    return f"""
      SELECT {group_col},
             CAST(count(DISTINCT {value_col}) AS BIGINT) AS sampled_distinct,
             CAST(count(DISTINCT {value_col}) * {int(rate_inv)} AS BIGINT)
               AS est_distinct
      FROM {table}
      WHERE ({h}) < {MOD // int(rate_inv)}
      GROUP BY {group_col}
    """
