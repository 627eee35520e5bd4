"""Text analysis operators (training-data extension).

Language-ID (stopword-marker heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting (normalized
digest + polynomial rolling hash). All pure Catalyst column expressions —
they compose into any documents-table plan without leaving the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import rolling_hash, rolling_hash_sql, window_starts

# Tiny per-language stopword marker sets (drawn from public stopword
# lists) — enough signal for a coarse heuristic language id on natural
# text. Deliberately small: each probe is one array_intersect over the
# distinct token array, all JVM-side.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "you", "with"],
    "fr": ["le", "la", "les", "et", "est", "que", "vous", "avec"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "sie"],
    "es": ["el", "los", "las", "es", "que", "usted", "con", "para"],
    "it": ["il", "gli", "della", "che", "di", "per", "sono", "questo"],
    "pt": ["não", "uma", "você", "são", "os", "das", "também", "mais"],
    "nl": ["de", "het", "een", "niet", "voor", "aan", "ook", "zijn"],
    "sv": ["och", "att", "det", "som", "för", "inte", "är", "med"],
    "pl": ["nie", "się", "jest", "czy", "dla", "tego", "jak", "przez"],
    "ru": ["и", "в", "не", "на", "что",
           "это", "как", "вы"],
}

BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text) -> Column:
    """Count of BPE-ish pretokenizer matches (letter runs / digit runs /
    single punctuation) — a cheap proxy for LLM token counts."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


def lang_id(text, default: str = "und") -> Column:
    """Heuristic language guess: the language whose marker-stopword hit
    count over the lowercased token set is highest (ties broken by language
    code order; no hits -> ``default``)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(c), r"\s+")
    scores = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        hits = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(m) for m in markers])))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(default))


def detect_language(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang",
) -> DataFrame:
    """Attach a language column: the JVM-side marker-stopword expression
    (:func:`lang_id`) — ~10 languages, zero Python, composes into any
    plan. Raises ``ValueError`` when ``out_col`` already exists, so a
    stored ground-truth column is never silently overwritten."""
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    return df.withColumn(out_col, lang_id(F.col(text_col)))


def tokenize(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "tokens",
    vocab_size: int | None = None,
) -> DataFrame:
    """Attach a token-id array column — the input :func:`..packing.pack_sequences`
    consumes, making tokenize -> pack -> train-shards one lazy plan.

    The BPE-ish pretokenizer (:data:`BPE_ISH_PATTERN` — letter runs / digit
    runs / single punctuation, the same matches :func:`bpe_ish_token_count`
    counts) with each piece mapped to an id by the module's polynomial
    rolling hash, optionally folded into ``[0, vocab_size)``. Pure Catalyst
    (regexp_extract_all + transform + aggregate, zero Python), exact
    integer arithmetic — the DuckDB oracle replays it verbatim
    (:func:`tokenize_sql`), and ``size(tokens)`` equals
    ``bpe_ish_token_count`` by construction. An honest stand-in for a real
    BPE vocabulary: ids are content-deterministic, merges are not modeled.
    Raises ``ValueError`` when ``out_col`` already exists.
    """
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    tok = F.transform(pieces, lambda p: rolling_hash(p))
    if vocab_size is not None:
        if vocab_size <= 0:
            raise ValueError(f"vocab_size must be positive, got {vocab_size}")
        tok = F.transform(tok, lambda t: F.pmod(t, F.lit(int(vocab_size))))
    return df.withColumn(out_col, tok)


def tokenize_sql(text_expr: str, vocab_size: int | None = None) -> str:
    """The :func:`tokenize` expression as DuckDB SQL — same
    pretokenizer regex, same rolling-hash family, bit-identical ids (for
    oracles and cross-engine replays)."""
    rh = rolling_hash_sql("p")
    tok = (
        f"list_transform(regexp_extract_all({text_expr}, "
        f"'{BPE_ISH_PATTERN}'), p -> {rh})"
    )
    if vocab_size is not None:
        tok = f"list_transform({tok}, t -> t % {int(vocab_size)})"
    return tok


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach standard quality-scoring columns:

    n_chars, n_tokens (whitespace), avg_token_len, distinct_ratio
    (type/token), punct_ratio, digit_ratio, upper_ratio — the usual
    Gopher/C4-style filters compose from these.
    """
    c = F.col(text_col)
    toks = F.split(c, r"\s+")
    n_chars = F.length(c)
    safe_chars = F.greatest(n_chars, F.lit(1))
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", F.size(toks))
        .withColumn(
            "avg_token_len",
            (n_chars - F.size(toks) + 1) / F.greatest(F.size(toks), F.lit(1)),
        )
        .withColumn("distinct_ratio", F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)))
        .withColumn("punct_ratio", F.regexp_count(c, F.lit(r"[^\w\s]")) / safe_chars)
        .withColumn("digit_ratio", F.regexp_count(c, F.lit(r"[0-9]")) / safe_chars)
        .withColumn("upper_ratio", F.regexp_count(c, F.lit(r"[A-Z]")) / safe_chars)
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", ngram: int = 2
) -> DataFrame:
    """Attach Gopher-style within-document repetition signals:

    - ``dup_line_frac`` — fraction of (non-empty) lines that are repeats
      of an earlier-seen line: ``(n_lines - n_distinct) / n_lines``.
    - ``dup_line_char_frac`` — fraction of line characters sitting in
      lines that occur more than once (all occurrences counted).
    - ``top_ngram_char_frac`` — characters covered by all occurrences of
      the single most frequent word ``ngram``-gram, over the document
      length (ties break on the lexicographically smallest gram, so the
      value is deterministic).

    Scale shape: everything is ROW-LOCAL — sort the doc's line/gram array
    and fold a run-length aggregate over it (O(n log n) per doc, one pass,
    struct accumulator). No explode, no shuffle, no Python: at 100 TB this
    is a map-only stage, where the explode+groupBy formulation would
    shuffle every line and every n-gram in the corpus. The DuckDB oracle
    computes the same statistics set-wise (unnest + GROUP BY) — two
    implementations, one definition. Fractions are single divisions of
    exact integers, so values are bit-equal across engines.
    """
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    from ..functions import ensure_min_parallelism

    df = ensure_min_parallelism(df)  # ~ms/doc folds: spread tiny inputs
    c = F.col(text_col)
    nonempty = lambda arr: F.filter(arr, lambda x: x != "")  # noqa: E731
    lines = nonempty(F.split(c, "\n"))
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    zero = F.lit(0).cast("long")

    # run-length fold over the sorted lines: chars in lines whose
    # occurrence count > 1 (all occurrences). acc = (prev, run, dup).
    def dup_step(acc, x):
        flush = F.when(
            acc["run"] > 1, acc["dup"] + acc["run"] * F.length(acc["prev"])
        ).otherwise(acc["dup"])
        return F.when(
            acc["prev"] == x,  # NULL prev (first element) falls to otherwise
            F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["dup"].alias("dup"),
            ),
        ).otherwise(
            F.struct(x.alias("prev"), F.lit(1).cast("long").alias("run"),
                     flush.alias("dup"))
        )

    dup_chars = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"), zero.alias("run"),
            zero.alias("dup"),
        ),
        dup_step,
        lambda acc: F.when(
            acc["run"] > 1, acc["dup"] + acc["run"] * F.length(acc["prev"])
        ).otherwise(acc["dup"]),
    )
    line_chars = F.aggregate(
        lines, zero, lambda acc, x: acc + F.length(x)
    )

    words = nonempty(F.split(c, r"\s+"))
    # guard: F.sequence(1, 0) yields a DESCENDING [1, 0], not empty
    grams = F.when(
        F.size(words) >= ngram,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (ngram - 1)),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(words, (i + j).cast("int")) for j in range(ngram)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    # run-length fold tracking the best (count desc, gram asc) run.
    # acc = (prev, run, best, bg).
    def best_step(acc, x):
        better = (acc["run"] > acc["best"]) | (
            (acc["run"] == acc["best"])
            & (acc["bg"].isNull() | (acc["prev"] < acc["bg"]))
        )
        nb = F.when((acc["run"] > 0) & better, acc["run"]).otherwise(acc["best"])
        ng = F.when((acc["run"] > 0) & better, acc["prev"]).otherwise(acc["bg"])
        return F.when(
            acc["prev"] == x,
            F.struct(
                acc["prev"].alias("prev"), (acc["run"] + 1).alias("run"),
                acc["best"].alias("best"), acc["bg"].alias("bg"),
            ),
        ).otherwise(
            F.struct(x.alias("prev"), F.lit(1).cast("long").alias("run"),
                     nb.alias("best"), ng.alias("bg"))
        )

    top = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"), zero.alias("run"),
            zero.alias("best"), F.lit(None).cast("string").alias("bg"),
        ),
        best_step,
        lambda acc: F.struct(
            F.when(
                (acc["run"] > acc["best"])
                | ((acc["run"] == acc["best"])
                   & (acc["bg"].isNull() | (acc["prev"] < acc["bg"]))),
                acc["run"],
            ).otherwise(acc["best"]).alias("best"),
            F.when(
                (acc["run"] > 0)
                & ((acc["run"] > acc["best"])
                   | ((acc["run"] == acc["best"])
                      & (acc["bg"].isNull() | (acc["prev"] < acc["bg"])))),
                acc["prev"],
            ).otherwise(acc["bg"]).alias("bg"),
        ),
    )
    return (
        df.withColumn(
            "dup_line_frac",
            (n_lines - n_distinct) / F.greatest(n_lines, F.lit(1)),
        )
        .withColumn("__dup", dup_chars)
        .withColumn(
            "dup_line_char_frac",
            F.col("__dup") / F.greatest(line_chars, F.lit(1).cast("long")),
        )
        .withColumn("__top", top)
        .withColumn(
            "top_ngram_char_frac",
            F.when(F.col("__top.bg").isNotNull(),
                   F.col("__top.best") * F.length("__top.bg"))
            .otherwise(zero)
            / F.greatest(F.length(c), F.lit(1)).cast("long"),
        )
        .drop("__dup", "__top")
    )


def tf_idf(
    token_counts: DataFrame,
    doc_col: str = "htid",
    token_col: str = "token",
    count_col: str = "count",
) -> DataFrame:
    """TF-IDF over a long token-count table: per (doc, token),
    tf = count / doc_total, idf = ln((N + 1) / (df + 1)) + 1 (smoothed).

    Source-level tf stats at corpus scale: two aggregations (doc totals,
    document frequencies) and one token-keyed join. Exact-int aggregates;
    floats only in the final per-row expression.

    Fully lazy: the corpus size N rides along as a broadcast single-row
    aggregate (cross-joined onto the vocabulary-sized doc-frequency table
    before the fan-out join), so constructing the plan runs no job and the
    whole computation is one action at execution time — no driver-side
    ``.count()`` pre-pass over 100 TB.

    The doc-frequency join carries NO broadcast hint: a token vocabulary
    is unbounded (Heaps' law plus junk tokens puts a web-scale corpus at
    10^8–10^9 distinct tokens), so forcing a broadcast would OOM the
    driver at the 100 TB tier. AQE picks broadcast vs sort-merge from the
    actual post-aggregation size — small corpora still get the broadcast
    plan (pinned by ``test_tf_idf_no_forced_vocab_broadcast``); only the
    1-row corpus-constants funnel keeps an explicit hint.

    Rows with a NULL ``doc_col`` belong to no document: they are dropped
    before any count, so they inflate neither ``df`` nor N.
    """
    per = (
        token_counts.filter(F.col(doc_col).isNotNull())
        .groupBy(doc_col, token_col)
        .agg(F.sum(count_col).alias("tc"))
    )
    doc_totals = per.groupBy(doc_col).agg(F.sum("tc").alias("doc_total"))
    # per is unique on (doc, token) by construction, so the document
    # frequency is a plain count — countDistinct compiled to an extra
    # two-phase aggregation (expand + second shuffle) for the same number
    dfreq = per.groupBy(token_col).agg(F.count(F.lit(1)).alias("df"))
    n_docs = doc_totals.agg(F.count(F.lit(1)).alias("__n_docs"))
    dfreq = dfreq.join(F.broadcast(n_docs))  # 1-row cross join: df + N
    out = (
        per.join(doc_totals, on=doc_col)
        .join(dfreq, on=token_col)  # no hint: vocabulary is unbounded, AQE decides
        .withColumn("tf", F.col("tc") / F.col("doc_total"))
        .withColumn(
            "idf",
            F.log((F.col("__n_docs").cast("double") + 1.0) / (F.col("df") + 1.0)) + 1.0,
        )
        .withColumn("tf_idf", F.col("tf") * F.col("idf"))
    )
    return out.select(doc_col, token_col, "tc", "tf", "df", "idf", "tf_idf")


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram language-model quality score (CCNet-style perplexity
    filter): per document, the mean information content in bits of its
    whitespace-token instances under a unigram MLE distribution —
    ``bits_per_token = avg(-log2(count(tok) / total_tokens))``.

    High scores flag gibberish / junk-token documents (their tokens are
    rare corpus-wide); unusually low scores flag boilerplate drawn from
    the most common token mass. The model is trained on ``docs`` itself
    in the same lazy plan (two aggregations, no driver action), so every
    scored token is in the vocabulary.

    Returns ``(id, n_tokens, bits_per_token)`` only for documents with at
    least one token: a document whose text is NULL, empty or whitespace
    only has no row (unlike :func:`bigram_logprob`, which keeps every
    document).

    Scale: the token-frequency join carries NO broadcast hint — a token
    vocabulary is unbounded at web scale (Heaps' law), the same contract
    as :func:`tf_idf`; AQE picks broadcast vs sort-merge from the actual
    post-aggregation size. Only the 1-row total-count funnel is hinted.
    The count aggregation partial-aggregates map-side, and the final
    per-document fold groups on the corpus-partitioned id.
    """
    toks = docs.select(
        F.col(id_col).alias(id_col),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    model = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tok_count"))
    total = toks.agg(F.count(F.lit(1)).alias("__total"))
    model = model.join(F.broadcast(total))  # 1-row cross join
    scored = toks.join(model, on="token", how="left")  # unbounded vocab: AQE decides
    bits = -F.log2(F.col("tok_count").cast("double") / F.col("__total"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(bits).alias("bits_per_token"),
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.9,
) -> DataFrame:
    """Interpolated bigram language-model quality score — the next rung
    above :func:`unigram_logprob` on the CCNet/KenLM-style perplexity
    ladder, still exact and oracle-replayable (MLE counts, no estimated
    backoff): per document, the mean bits of its word TRANSITIONS under

    ``p(w | v) = lam * c(v w)/c(v .) + (1 - lam) * c(w)/N``

    where ``c(v w)`` counts the bigram over the corpus, ``c(v .)`` counts
    ``v`` as a transition context, and ``c(w)/N`` is the unigram MLE over
    all token instances. The unigram interpolation floor means every
    observed transition has p > 0: the model is trained on ``docs`` itself
    inside the same lazy plan, so every scored word and transition is in
    its counts.

    Returns one row per input document: ``(id, n_trans, bits_per_trans)``
    — row-preserving: docs with < 2 words score ``n_trans = 0`` with NULL
    bits (no transitions to judge, deliberately not 0.0 — a 0 would sort
    as "perfectly predictable").

    Scale: transitions come from ONE split per doc (adjacent pairs via an
    index transform — no self-join of positions); all three count tables
    are unbounded-vocabulary (Heaps' law) so their joins carry NO
    broadcast hint — AQE decides, same contract as :func:`tf_idf`; only
    the 1-row N funnel is hinted. Every aggregation is map-side
    combinable.

    Raises ``ValueError`` unless ``0 <= lam <= 1``: outside that range the
    mixture is not a probability (p can exceed 1, and the score go
    negative).
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"bigram_logprob: lam must be in [0, 1], got {lam}")
    words = F.array_remove(F.split(F.col(text_col), " "), "")
    pairs = F.transform(
        window_starts(words, 2),
        lambda i: F.struct(
            F.element_at(words, i + 1).alias("prev"),
            F.element_at(words, i + 2).alias("cur"),
        ),
    )
    trans = docs.select(
        F.col(id_col).alias("id"), F.explode(pairs).alias("__p")
    ).select("id", F.col("__p.prev").alias("prev"), F.col("__p.cur").alias("cur"))

    toks = docs.select(
        F.explode(words).alias("cur")
    )
    unigrams = toks.groupBy("cur").agg(F.count(F.lit(1)).alias("c_uni"))
    n_total = toks.agg(F.count(F.lit(1)).alias("__n"))
    unigrams = unigrams.join(F.broadcast(n_total))  # 1-row cross join
    bigrams = trans.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("c_big")
    )
    contexts = trans.groupBy("prev").agg(F.count(F.lit(1)).alias("c_ctx"))

    lam = float(lam)
    p = (
        lam * (F.col("c_big").cast("double") / F.col("c_ctx"))
        + (1.0 - lam) * (F.col("c_uni").cast("double") / F.col("__n"))
    )
    bits = -F.log2(p)
    scored = (
        trans.join(bigrams, on=["prev", "cur"], how="left")  # unbounded: AQE
        .join(contexts, on="prev", how="left")
        .join(unigrams, on="cur", how="left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.avg(bits).alias("bits_per_trans"),
        )
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(scored, on="id", how="left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_trans", F.lit(0).cast("long")).alias("n_trans"),
        F.col("bits_per_trans"),
    )


def remove_duplicate_lines(
    docs: DataFrame,
    min_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_deduped",
) -> DataFrame:
    """C4-style corpus-level line dedup: drop every occurrence of any line
    that appears in >= ``min_df`` DISTINCT documents (boilerplate headers,
    cookie banners, navigation chrome), then reassemble each document in
    original line order.

    Shape at scale: posexplode lines -> distinct (doc, line) -> line-df agg
    (map-side combinable) -> anti join of the high-df line set back onto
    the exploded table -> per-doc ordered re-concat via
    sort_array(collect_list(struct(pos, line))). No broadcast hint on the
    anti join: min_df bounds which lines qualify, not how many — web-scale
    corpora carry millions of boilerplate lines, so the planner (AQE)
    picks broadcast vs sort-merge from actual size.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    dfreq = (
        lines.select(id_col, "__line").distinct()
        .groupBy("__line").agg(F.count(F.lit(1)).alias("__df"))
    )
    boiler = dfreq.filter(F.col("__df") >= min_df).select("__line")
    kept = lines.join(boiler, on="__line", how="left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.struct("__pos", "__line")))["__line"],
                "\n",
            ).alias(out_col)
        )
    )
    # docs whose every line was boilerplate drop out of the groupBy —
    # restore them as empty strings so the op is row-preserving
    return docs.join(rebuilt, on=id_col, how="left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(""))
    )


_BM25_K1, _BM25_B = 1.2, 0.75


def bm25(
    token_counts: DataFrame,
    doc_col: str = "htid",
    token_col: str = "token",
    count_col: str = "count",
) -> DataFrame:
    """Okapi BM25 weight per (doc, token) over a long token-count table —
    the retrieval-grade sibling of :func:`tf_idf` (tf saturation via
    ``k1`` = 1.2, doc-length normalization via ``b`` = 0.75, the standard
    Okapi constants), for corpus quality scoring and dedup-aware
    retrieval indexes.

    Same plan shape as :func:`tf_idf` and the same laziness argument: two
    aggregations (doc totals, document frequencies), the corpus constants
    N and avgdl ride along as a broadcast single-row aggregate folded
    onto the vocabulary-sized doc-frequency table — no driver-side count
    pre-pass, one action at execution time.  idf uses the standard
    non-negative smoothing ln(1 + (N - df + 0.5)/(df + 0.5)).

    As in :func:`tf_idf`, ONLY the 1-row corpus-constants funnel is
    broadcast-hinted; the vocabulary-sized doc-frequency join is left to
    AQE (an unbounded token vocabulary must never be force-broadcast at
    the 100 TB tier). NULL ``doc_col`` rows are dropped first, as in
    :func:`tf_idf`.
    """
    per = (
        token_counts.filter(F.col(doc_col).isNotNull())
        .groupBy(doc_col, token_col)
        .agg(F.sum(count_col).alias("tc"))
    )
    doc_totals = per.groupBy(doc_col).agg(F.sum("tc").alias("doc_total"))
    corpus = doc_totals.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.avg("doc_total").alias("__avgdl"),
    )
    # per is unique on (doc, token) by construction: plain count == df
    # (countDistinct would compile to an extra two-phase aggregation)
    dfreq = per.groupBy(token_col).agg(
        F.count(F.lit(1)).alias("df")
    ).join(F.broadcast(corpus))  # 1-row cross join: df + N + avgdl
    tc = F.col("tc").cast("double")
    norm = F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B)
        + F.lit(_BM25_B) * F.col("doc_total") / F.col("__avgdl")
    )
    idf = F.log(
        1.0
        + (F.col("__n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    out = (
        per.join(doc_totals, on=doc_col)
        .join(dfreq, on=token_col)  # no hint: vocabulary is unbounded, AQE decides
        .withColumn("idf", idf)
        .withColumn(
            "bm25",
            F.col("idf") * tc * F.lit(_BM25_K1 + 1.0) / (tc + norm),
        )
    )
    return out.select(doc_col, token_col, "tc", "doc_total", "df", "idf", "bm25")


# PII surface patterns — deliberately lookaround-free so the exact same
# pattern strings run under Java regex (Spark) and RE2 (DuckDB/Go) with
# identical match sets. Detection heuristics, not a compliance guarantee.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\+\d[\d()\- ]{7,14}\d",
}


def pii_features(
    df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """Per-document PII surface counts (``pii_<kind>`` columns + a
    ``pii_total``) — the filter signal for 'drop or redact documents
    leaking contact data' pipeline stages. Pure Catalyst ``regexp_count``
    projections: zero shuffle, zero Python, scan-stage cost only.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    out = df
    for kind, pat in pats.items():
        out = out.withColumn(
            f"pii_{kind}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
    total = None
    for kind in pats:
        c = F.col(f"pii_{kind}")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    patterns: dict[str, str] | None = None,
    template: str = "<{kind}>",
) -> DataFrame:
    """Replace PII matches with typed placeholder tokens (``<email>``,
    ``<ipv4>``, ...) instead of dropping the document — keeps the prose as
    training signal while removing the contact data. A chain of
    ``regexp_replace`` projections applied in dict order (order matters:
    e.g. ipv4 before phone keeps dotted quads from half-matching the
    phone pattern), map-only at any scale.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    c = F.col(text_col)
    for kind, pat in pats.items():
        c = F.regexp_replace(c, F.lit(pat), F.lit(template.format(kind=kind)))
    return df.withColumn(out_col or text_col, c)


def char_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution, in
    bits — the classic cheap gibberish/boilerplate signal (random bytes
    and key-mash read high; single-char runs, template padding and
    numeric tables read low; natural language sits ~3.5-4.5 bits for
    English-like text).

    Returns one row per doc: ``(id, n_chars, entropy_bits)``; empty text
    scores ``n_chars = 0`` with NULL entropy (no distribution to
    measure — deliberately not 0.0, which is the legitimate score of a
    single-character run).

    Scale: ZERO-shuffle — the whole computation is row-local Catalyst
    higher-order functions (split -> array_sort -> ONE aggregate pass
    over the sorted runs), a pure map over the corpus with no explode
    into a character-instance relation (which would be the naive
    #chars-row shuffle design). Per-row cost is O(len log len), JVM-side,
    via the identity H = log2(n) - (sum over runs of k*log2 k)/n — the
    run accumulator carries (prev char, run length, sum, n) through a
    single fold, so the split array is materialized once per row. (The
    first formulation — per-distinct-char recount via
    filter/size inside the fold — was O(alphabet x len) with the split
    re-evaluated per term, HOFs being outside codegen CSE; measured
    14.3 s -> 1.4 s warm at sf0.1/local[32] for identical results.)
    Trap pinned by test: BOTH engines split '' into [''] (one empty
    element, size 1), not [] — so the empty artifact is stripped with
    array_remove, or empty docs would score as legitimate 1-char runs.
    """
    from ..functions import ensure_min_parallelism

    docs = ensure_min_parallelism(docs)  # O(len log len)/doc folds: spread
    chars = F.array_sort(F.array_remove(F.split(F.col(text_col), ""), ""))

    def klog2k(k):
        kd = k.cast("double")
        return F.when(k > 0, kd * F.log2(kd)).otherwise(F.lit(0.0))

    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("cnt"),
        F.lit(0.0).alias("s"),
        F.lit(0).cast("long").alias("n"),
    )

    def step(a, c):
        same = c == a["prev"]
        return F.struct(
            c.alias("prev"),
            F.when(same, a["cnt"] + 1).otherwise(F.lit(1).cast("long")).alias("cnt"),
            F.when(same, a["s"]).otherwise(a["s"] + klog2k(a["cnt"])).alias("s"),
            (a["n"] + 1).alias("n"),
        )

    def finish(a):
        s = a["s"] + klog2k(a["cnt"])
        nd = a["n"].cast("double")
        return F.struct(
            F.when(a["n"] > 0, F.log2(nd) - s / nd).alias("ent"),
            a["n"].alias("n"),
        )

    # two-step select: the non-cheap aggregate is referenced twice below,
    # so CollapseProject keeps the stage split and it evaluates ONCE
    staged = docs.select(
        F.col(id_col),
        F.aggregate(chars, acc0, step, finish).alias("__ce"),
    )
    return staged.select(
        F.col(id_col),
        F.col("__ce")["n"].cast("long").alias("n_chars"),
        F.col("__ce")["ent"].alias("entropy_bits"),
    )
