"""Training-sequence assembly: packing and mixture sampling.

The reference stops at per-volume feature tables; an LLM training-data
pipeline additionally needs the corpus turned into model-ready input:

- :func:`pack_sequences` — the standard concatenate-and-split packing:
  order documents deterministically, concatenate their pre-tokenized
  arrays (optionally with an EOS separator) into one global token stream,
  and cut it into consecutive fixed-length sequences, each carrying the
  document spans it contains (for block-diagonal attention masks).
- :func:`sample_mixture` — deterministic per-source downsampling to hit a
  training-mixture recipe (e.g. web 10%, code 100%), reproducible across
  runs/engines via shared integer hash arithmetic, no RNG state.

Physical plan of ``pack_sequences`` (designed for the 10^12-token scale):

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order keys —
   ONE corpus shuffle establishing global order across partitions.
2. An eager ``localCheckpoint`` barrier pins the partitioning: range
   boundaries come from sampling, so without the barrier the offsets job
   (step 3) and the packing job could see different partitions. Same
   documented driver-coordination contract as ``components`` / ``ivf``;
   any global repack must materialize the ordered corpus once anyway.
3. Per-partition token totals (a tiny count-sized aggregate) -> exclusive
   prefix on the driver (#partitions rows) -> broadcast back: every row
   learns its global token offset. The per-partition running sum rides an
   Arrow ``mapInPandas`` (vectorized cumsum, carry across batches) — a
   narrow pass, no shuffle, token arrays pass through Arrow untouched.
4. Each row emits one **fragment per training sequence it overlaps**
   (array slicing JVM-side — rows ~= documents + boundary crossings, far
   fewer than tokens), then ONE groupBy on ``seq_id`` reassembles
   sequences. That shuffle is perfectly uniform by construction: every
   seq_id key carries exactly ``seq_len`` tokens, so there is no skew at
   any scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import _job
from .hashing import MOD, key_hash, key_hash_sql, mix, mix_sql


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "tokens",
    doc_col: str = "doc_id",
    order_cols: list[str] | None = None,
    eos_token: int | None = None,
    drop_last: bool = True,
    n_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Pack per-document token arrays into fixed-length training sequences.

    ``order_cols`` (default ``[doc_col]``) must totally order the rows —
    packing is deterministic under any partitioning given a unique order.
    ``eos_token`` is appended to every document before packing when set.
    ``drop_last=True`` drops the final partial sequence (standard for
    fixed-shape training batches). ``n_partitions`` sizes the range
    partitioning explicitly (default: ``spark.sql.shuffle.partitions``)
    — at the 100 TB tier set it so one partition's token payload fits
    executor memory for the checkpoint barrier (the per-partition offset
    table collected to the driver stays one row per partition either
    way).

    ``checkpoint_dir`` picks the durability tier of the step-2 barrier.
    Default (None) is ``localCheckpoint`` — fastest, but blocks live
    unreplicated on executors, so on a real cluster an executor loss
    after the barrier kills the job (lineage is truncated, no recompute
    path). For production-scale runs pass a fault-tolerant path (HDFS/
    object store): the barrier becomes a reliable ``checkpoint()``,
    which persists each partition as-is and preserves both partition
    boundaries and within-partition order — required here because the
    sampled range boundaries must be identical for the offsets job and
    the packing job. Output is bit-identical either way (tested). Note
    ``setCheckpointDir`` is session-global; the dir is set only when
    this option is used.

    Retention: reliable checkpoints are NOT auto-deleted by default
    (``spark.cleaner.referenceTracking.cleanCheckpoints`` is false), so
    every production pack leaves a corpus-sized staged copy under
    ``checkpoint_dir`` — delete the dir after the downstream write
    action completes (see ``scripts/shards_job.py`` for the Hadoop-FS
    cleanup step), or run with ``cleanCheckpoints=true`` and accept
    that a driver crash then drops the recompute point too.

    Returns ``(seq_id, tokens, doc_spans, n_docs, n_tok)`` where
    ``doc_spans`` is ``array<struct<start, doc_id, len>>`` — the
    within-sequence extent of every document fragment, in order —
    and ``tokens`` is byte-equal to the concatenated source arrays
    (payloads are sliced, never re-encoded).
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if n_partitions is not None and n_partitions < 1:
        # a truthiness check would silently drop an explicitly computed 0
        # (e.g. total_tokens // budget on a small input) back to defaults
        raise ValueError(f"n_partitions must be >= 1, got {n_partitions}")
    order_cols = list(order_cols) if order_cols else [doc_col]
    elem_t = df.schema[tokens_col].dataType.elementType.simpleString()
    # NULL token arrays behave exactly like empty ones (a tokenizer seam
    # may emit NULL for an untokenizable doc): with EOS set the doc still
    # contributes its separator; without, it is skipped. concat(NULL, x)
    # is NULL, which would otherwise silently swallow the EOS too.
    toks = F.coalesce(F.col(tokens_col), F.array().cast(f"array<{elem_t}>"))
    if eos_token is not None:
        toks = F.concat(toks, F.array(F.lit(eos_token).cast(elem_t)))

    base = (
        df.select(*order_cols, F.col(doc_col).alias("__doc"), toks.alias("__t"))
        .withColumn("__n", F.size("__t").cast("long"))
        .filter(F.col("__n") > 0)
        .repartitionByRange(
            *([int(n_partitions)] if n_partitions is not None else []), *order_cols
        )
        .sortWithinPartitions(*order_cols)
    )
    # step-2 barrier: pin the sampled range partitioning (see docstring
    # for the localCheckpoint-vs-reliable-checkpoint durability tradeoff)
    with _job("pack_sequences: barrier"):
        if checkpoint_dir is not None:
            df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
            base = base.checkpoint(eager=True)
        else:
            base = base.localCheckpoint(eager=True)

    # step 3a: per-partition totals -> driver exclusive prefix (one row per
    # partition — thousands, never corpus-sized)
    with _job("pack_sequences: offsets"):
        totals = (
            base.groupBy(F.spark_partition_id().alias("__pid"))
            .agg(F.sum("__n").alias("__tot"))
            .collect()
        )
    offsets, acc = {}, 0
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offsets[r["__pid"]] = acc
        acc += r["__tot"]

    # step 3b: within-partition running sum — Arrow pass-through, vectorized.
    # NB: StructType.add MUTATES the receiver, and df.schema is a cached
    # object — copy the fields so base's own column list stays intact.
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(base.schema.fields) + [StructField("__end", LongType())]
    )

    def running_sum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        # empty partitions have no totals row (and nothing to emit)
        carry = offsets.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            ends = pdf["__n"].to_numpy().cumsum() + carry
            if len(ends):
                carry = int(ends[-1])
            yield pdf.assign(__end=ends)

    g = F.col("__end") - F.col("__n")  # global start offset of this row
    L = F.lit(int(seq_len)).cast("long")
    # exact integer floor-div (`div`): F.floor(a / b) is DOUBLE division,
    # which misrounds once global offsets pass 2^53 tokens
    first_seq = F.expr(f"(__end - __n) div {int(seq_len)}")
    last_seq = F.expr(f"(__end - 1) div {int(seq_len)}")
    frag = (
        base.mapInPandas(running_sum, schema=out_schema)
        .select(
            "__doc",
            F.explode(
                F.transform(
                    F.sequence(first_seq, last_seq),
                    # fragment of this doc landing in sequence s: global
                    # range [max(g, sL), min(g+n, (s+1)L)) — non-empty for
                    # every s in [first_seq, last_seq] by construction
                    lambda s: F.struct(
                        s.alias("seq_id"),
                        F.greatest(g - s * L, F.lit(0).cast("long"))
                        .cast("int")
                        .alias("sstart"),
                        F.slice(
                            F.col("__t"),
                            (F.greatest(s * L - g, F.lit(0).cast("long")) + 1).cast("int"),
                            (
                                F.least(F.col("__end"), (s + 1) * L)
                                - F.greatest(g, s * L)
                            ).cast("int"),
                        ).alias("frag"),
                    ),
                )
            ).alias("f"),
        )
        .select("__doc", "f.seq_id", "f.sstart", "f.frag")
    )

    # step 4: uniform reassembly — every seq_id groups exactly seq_len
    # tokens (the final partial possibly fewer), so the shuffle cannot skew
    parts = F.array_sort(F.collect_list(F.struct("sstart", "frag", "__doc")))
    seqs = frag.groupBy("seq_id").agg(
        F.flatten(F.transform(parts, lambda x: x["frag"])).alias("tokens"),
        F.transform(
            parts,
            lambda x: F.struct(
                x["sstart"].alias("start"),
                x["__doc"].alias(doc_col),
                F.size(x["frag"]).alias("len"),
            ),
        ).alias("doc_spans"),
    )
    seqs = seqs.select(
        "seq_id",
        "tokens",
        "doc_spans",
        F.size("doc_spans").alias("n_docs"),
        F.size("tokens").cast("long").alias("n_tok"),
    )
    if drop_last:
        seqs = seqs.filter(F.col("n_tok") == F.lit(int(seq_len)))
    return seqs


def sample_mixture(
    df: DataFrame,
    rates: dict[str, float],
    key_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 7,
    default_rate: float = 0.0,
    epoch_col: str | None = None,
) -> DataFrame:
    """Deterministic per-source sampling to a mixture recipe — down- AND
    up-sampling.

    With all rates in [0, 1] (the default regime): keeps a row iff
    ``u(key) < rates[source]`` where ``u`` is a uniform [0,1) value from
    pure integer arithmetic (Knuth multiplicative hash mod 2^31-1) over
    ``key_col`` — no RNG state, identical decisions on any engine that
    can do 64-bit integer math (the DuckDB oracle replays it verbatim),
    stable across runs and partitionings. Sources absent from ``rates``
    fall back to ``default_rate`` (0 = drop). One narrow filter, fully
    pushdown-friendly: Catalyst folds the rate lookup into a scan
    predicate, so at 100 TB the sampled-out rows never leave the file
    scan stage.

    Rates ABOVE 1 mean epoch repetition (a temperature recipe routinely
    asks for 2.7 passes over a rare source): the row is emitted
    ``floor(rate)`` times plus one more iff ``u(key) < frac(rate)`` —
    same expected count, same per-key determinism. Repetition changes
    row multiplicity, so it requires ``epoch_col``: each copy carries
    its 0-based epoch index (downstream packing keys on
    ``(key, epoch)``; a bare duplicated key would collapse in any
    distinct/groupBy). The plan is still one narrow projection — a
    ``sequence``+``explode`` over a per-row copy count, no shuffle, no
    Python — and rows with zero copies vanish in the explode (their
    token payloads still cross the scan, the price of emitting
    multiplicity; pure filtering workloads should leave ``epoch_col``
    unset to keep the scan-predicate plan).

    ``epoch_col`` with all-sub-1 rates is allowed (every kept row gets
    epoch 0), so a recipe can cross the 1.0 boundary without a code-path
    change. Replay the copy count in SQL via :func:`mixture_copies_sql`;
    the sub-1 filter via :func:`mixture_sql_predicate`.

    ``key_col`` must be integral (byte/short/int/long) or string; any
    other type raises — a silent cast of e.g. a struct or double key to
    NULL would drop every row even at rate 1.0. String keys (native
    htids) are hashed with the module-family polynomial rolling hash,
    replayed verbatim by the SQL helpers (``string_key=True``). NULL
    keys are deterministically folded to key 0 / ``''`` (both hash to
    0) rather than dropped: the decision stays per-key-deterministic
    and rate 1.0 keeps the whole corpus.
    """
    for s, r in rates.items():
        if r < 0.0 or (r > 1.0 and epoch_col is None):
            raise ValueError(
                f"rate for {s!r} must be in [0, 1] (got {r}); rates > 1 "
                "(epoch repetition) require epoch_col"
            )
    if default_rate < 0.0 or (default_rate > 1.0 and epoch_col is None):
        raise ValueError(
            f"default_rate must be in [0, 1] (got {default_rate}); "
            "rates > 1 require epoch_col"
        )
    if epoch_col is not None and epoch_col in df.columns:
        # same contract as detect_language/tokenize: never silently
        # shadow or ambiguate an existing column (e.g. re-running the
        # mixture on its own epoch-carrying output)
        raise ValueError(
            f"output column {epoch_col!r} already exists; pass epoch_col="
        )
    u = key_hash(df, key_col, seed).cast("double") / F.lit(float(MOD))
    if epoch_col is None:
        rate = F.lit(float(default_rate))
        for s, r in sorted(rates.items()):
            rate = F.when(F.col(source_col) == s, F.lit(float(r))).otherwise(rate)
        return df.filter(u < rate)

    # repetition path: per-source (floor, frac) split driver-side so the
    # fractional-copy decision reuses the same u as plain sampling — a
    # recipe moving a source from 0.9 to 1.9 keeps the SAME keys for its
    # fractional copy, only adding a full pass
    import math

    whole = F.lit(int(math.floor(float(default_rate))))
    frac = F.lit(float(default_rate) - math.floor(float(default_rate)))
    for s, r in sorted(rates.items()):
        q, fr = int(math.floor(float(r))), float(r) - math.floor(float(r))
        cond = F.col(source_col) == s
        whole = F.when(cond, F.lit(q)).otherwise(whole)
        frac = F.when(cond, F.lit(fr)).otherwise(frac)
    n_copies = (whole + F.when(u < frac, F.lit(1)).otherwise(F.lit(0))).cast(
        "int"
    )
    # sequence(0, -1) would DESCEND in Spark ([0, -1]); guard zero-copy
    # rows to an empty array, which the explode then drops entirely
    eps = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return df.select("*", F.explode(eps).alias(epoch_col))


def mixture_copies_sql(
    rates: dict[str, float],
    key_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 7,
    default_rate: float = 0.0,
    string_key: bool = False,
) -> str:
    """The :func:`sample_mixture` (repetition path) per-row COPY COUNT as
    ANSI SQL — same integer hash, same floor/frac split, same branch
    order. Replay the row multiplication with DuckDB's per-row unnest::

        SELECT ..., unnest(generate_series(0, ({copies}) - 1)) AS epoch
        FROM ...

    (``generate_series(0, -1)`` is empty in DuckDB, so zero-copy rows
    vanish exactly like the Spark explode.)"""
    import math

    u = f"({key_hash_sql(key_col, seed, string_key)}) / CAST({MOD} AS DOUBLE)"
    whole = str(int(math.floor(float(default_rate))))
    frac = str(float(default_rate) - math.floor(float(default_rate)))
    for s, r in sorted(rates.items()):
        lit = s.replace("'", "''")
        q, fr = int(math.floor(float(r))), float(r) - math.floor(float(r))
        whole = f"CASE WHEN {source_col} = '{lit}' THEN {q} ELSE {whole} END"
        frac = f"CASE WHEN {source_col} = '{lit}' THEN {fr} ELSE {frac} END"
    return f"(({whole}) + (CASE WHEN ({u}) < ({frac}) THEN 1 ELSE 0 END))"



def mixture_sql_predicate(
    rates: dict[str, float],
    key_col: str = "doc_id",
    source_col: str = "source",
    seed: int = 7,
    default_rate: float = 0.0,
    string_key: bool = False,
) -> str:
    """The exact :func:`sample_mixture` keep-predicate as ANSI SQL (for
    DuckDB oracles and cross-engine replays) — same integer arithmetic,
    same branch order. ``string_key=True`` replays the string-key path
    (rolling hash, NULL -> ``''``); otherwise integral (NULL -> 0)."""
    u = f"({key_hash_sql(key_col, seed, string_key)}) / CAST({MOD} AS DOUBLE)"
    rate = str(float(default_rate))
    for s, r in sorted(rates.items()):
        lit = s.replace("'", "''")  # a source name with an apostrophe must
        rate = f"CASE WHEN {source_col} = '{lit}' THEN {float(r)} ELSE {rate} END"
    return f"({u}) < ({rate})"


def pack_documents_padded(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "tokens",
    doc_col: str = "doc_id",
    pad_token: int | None = 0,
    eos_token: int | None = None,
) -> DataFrame:
    """Document-boundary-respecting packing: split each document's token
    array into ``ceil(n / seq_len)`` fixed-length chunks and pad the last
    one — no cross-document concatenation, so no attention contamination
    between unrelated documents and no block-diagonal mask bookkeeping.
    The trade against :func:`pack_sequences` is pad waste (bounded by
    ``seq_len - 1`` tokens per document), which is why both exist: concat
    packing for pretraining throughput, padded packing for fine-tuning /
    eval where cross-doc leakage is unacceptable.

    Pure Catalyst, zero shuffle: one ``transform(sequence)`` builds the
    per-document chunk list (JVM-side array slicing — payloads are
    sliced, never re-encoded), one explode emits chunk rows. At 100 TB
    this is a narrow map over the corpus scan; parallelism is the scan's.

    ``eos_token`` is appended to the document before chunking when set.
    ``pad_token=None`` leaves the final chunk ragged (for loaders that
    pad on collate). Empty and NULL documents yield no chunk.

    Returns ``(doc_col, chunk_id, tokens, n_tok, n_pad)``: ``chunk_id``
    is the 0-based within-document index, ``n_tok`` the real-token count,
    ``n_pad`` the padding added (0 when ragged or exact).
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    elem_t = df.schema[tokens_col].dataType.elementType.simpleString()
    toks = F.coalesce(F.col(tokens_col), F.array().cast(f"array<{elem_t}>"))
    if eos_token is not None:
        toks = F.concat(toks, F.array(F.lit(eos_token).cast(elem_t)))
    # Stage the (coalesce+concat) array as its OWN projection before the
    # chunk transform: referenced bare inside the lambda, Catalyst would
    # inline the concat into every per-chunk slice — rebuilding the full
    # array once per chunk, O(len * n_chunks) per document (the same
    # CollapseProject pitfall documented in word_shingle_ids/chunking;
    # staged + referenced >1 time, the alias computes once per row).
    staged = df.select(F.col(doc_col), toks.alias("__t"))
    ref = F.col("__t")
    L = int(seq_len)
    n = F.size(ref)
    # chunk i covers [iL, min((i+1)L, n)) — slice is 1-based
    # floor(double) is exact here: n is a per-document token count
    # (int-sized, far under 2^53 where double division starts misrounding)
    chunks = F.when(n > 0, F.transform(
        F.sequence(F.lit(0), F.floor((n - 1) / F.lit(L)).cast("int")),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.slice(ref, i * L + 1, F.lit(L)).alias("frag"),
        ),
    )).otherwise(F.array().cast(
        f"array<struct<chunk_id:int,frag:array<{elem_t}>>>"
    ))
    out = (
        staged.select(F.col(doc_col), F.explode(chunks).alias("c"))
        .select(
            doc_col,
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.frag").alias("__frag"),
        )
        .withColumn("n_tok", F.size("__frag"))
        .filter(F.col("n_tok") >= 1)
    )
    if pad_token is None:
        return out.select(
            doc_col, "chunk_id", F.col("__frag").alias("tokens"), "n_tok",
            F.lit(0).alias("n_pad"),
        )
    pad = F.array_repeat(F.lit(pad_token).cast(elem_t), F.lit(L) - F.col("n_tok"))
    return out.select(
        doc_col,
        "chunk_id",
        F.concat("__frag", pad).alias("tokens"),
        "n_tok",
        (F.lit(L) - F.col("n_tok")).alias("n_pad"),
    )


def unpack_sequences(
    packed: DataFrame,
    doc_col: str = "doc_id",
    eos_token: int | None = None,
) -> DataFrame:
    """Inverse of :func:`pack_sequences`: reassemble per-document token
    arrays from packed sequences and their ``doc_spans`` (lineage
    debugging, selective re-tokenization, audit). Pure Catalyst: explode
    the spans, slice each fragment out of its sequence JVM-side, one
    groupBy on the doc to re-concatenate in global order (seq_id, start).

    ``eos_token`` strips ONE trailing EOS per document when set (the
    separator :func:`pack_sequences` appended). Documents whose tail was
    dropped with ``drop_last=True`` come back truncated — unpack is
    lossless against ``drop_last=False`` output (round-trip tested).
    """
    frag = packed.select(
        "seq_id",
        "tokens",
        F.explode("doc_spans").alias("s"),
    ).select(
        F.col("s")[doc_col].alias(doc_col),
        "seq_id",
        F.col("s")["start"].alias("__start"),
        F.slice("tokens", F.col("s")["start"] + 1, F.col("s")["len"]).alias("__frag"),
    )
    parts = F.array_sort(F.collect_list(F.struct("seq_id", "__start", "__frag")))
    out = frag.groupBy(doc_col).agg(
        F.flatten(F.transform(parts, lambda x: x["__frag"])).alias("tokens")
    )
    if eos_token is not None:
        n = F.size("tokens")
        out = out.withColumn(
            "tokens",
            F.when(
                (n > 0) & (F.element_at("tokens", -1) == F.lit(eos_token)),
                F.slice("tokens", 1, F.greatest(n - 1, F.lit(0))),
            ).otherwise(F.col("tokens")),
        )
    return out


def take_per_source(
    df: DataFrame,
    n: int,
    source_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Exact stratified sample: the ``n`` rows per source whose decision
    hash is smallest — deterministic across runs, partitionings, and
    engines (same :func:`~.hashing.key_hash` family as :func:`sample_mixture`;
    the DuckDB oracle replays it via :func:`key_hash_sql`), no RNG state.

    Where :func:`sample_mixture` hits a *rate* (no per-source count
    guarantee on small strata), this hits a *count* — carving fixed-size
    eval/calibration sets per source. One hash-ordered window per source:
    a shuffle on ``source_col`` only, no global sort; skewed strata are
    the caller's signal to pre-split sources. Ties (hash collisions)
    break on the key itself, so the cut is total-ordered and stable.
    """
    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    from pyspark.sql.window import Window

    h = key_hash(df, key_col, seed)
    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(n))
        .drop("__rk")
    )


def mixture_rates_from_counts(
    counts: dict[str, int],
    alpha: float = 0.3,
    target_total: int | None = None,
) -> dict[str, float]:
    """Turn observed per-source sizes into :func:`sample_mixture` keep
    rates implementing temperature sampling (multilingual-LM style):
    sampling probability p_s ∝ count_s^alpha, so ``alpha=1`` keeps natural
    proportions and ``alpha -> 0`` flattens toward uniform, up-weighting
    small sources. ``target_total`` scales the recipe to a corpus size
    (default: the largest total for which no source needs rate > 1 —
    i.e. the rarest-boosted source is taken whole). An EXPLICIT
    ``target_total`` larger than that cap yields rates above 1 (epoch
    repetition — feed them to :func:`sample_mixture` with
    ``epoch_col``); capping them silently would both miss the requested
    total and bend the per-source proportions away from count^alpha.
    Pure driver-side arithmetic on a #sources-sized dict (counts come
    from a one-row-per-source aggregate, never corpus-sized)."""
    if not counts:
        return {}
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if any(c < 0 for c in counts.values()):
        raise ValueError("counts must be non-negative")
    pos = {s: c for s, c in counts.items() if c > 0}
    if not pos:
        return {s: 0.0 for s in counts}
    w = {s: c ** alpha for s, c in pos.items()}
    tot_w = sum(w.values())
    # rate_s = target_total * (w_s / tot_w) / count_s; the no-oversample
    # cap is the largest target with max_s rate_s == 1
    if target_total is None:
        target_total = min(c * tot_w / w[s] for s, c in pos.items())
        # derivation guarantees max rate == 1; min() only absorbs float
        # round-off, never a caller's request
        rates = {
            s: min(1.0, target_total * w[s] / tot_w / c) for s, c in pos.items()
        }
    else:
        rates = {s: target_total * w[s] / tot_w / c for s, c in pos.items()}
    return {s: rates.get(s, 0.0) for s in counts}


def _split_thresholds(fractions: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative INTEGER hash thresholds for :func:`split_by_hash` /
    :func:`split_sql_case` — one shared derivation so both engines compare
    the same exact integers (no float-edge flakiness at split borders)."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = 0.0
    out = []
    for name, f in fractions.items():
        if not (0.0 < f <= 1.0):
            raise ValueError(f"fraction for {name!r} must be in (0, 1], got {f}")
        total += f
        out.append((name, int(total * MOD)))
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    if abs(total - 1.0) <= 1e-9:
        # exhaustive recipe: pin the last threshold to the hash range's top
        # so float rounding can never orphan the max-hash keys
        out[-1] = (out[-1][0], MOD)
    return out


def split_by_hash(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 101,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test carve: label each row by where its
    decision hash lands in cumulative ``fractions`` intervals. Splits are
    disjoint and stable by construction — a document's split never changes
    across runs, partitionings, engines, or corpus growth (the decision
    depends only on (key, seed), never on other rows), which is the
    property eval hygiene actually needs: re-ingesting 10 TB more data
    cannot silently move yesterday's test docs into train.

    All comparisons happen in integer space (:func:`_split_thresholds`),
    so the DuckDB replay (:func:`split_sql_case`) is bit-identical even AT
    the split boundaries. Fractions may sum to < 1 (rows past the total
    get a NULL label — a holdout you haven't assigned yet); a sum of 1 is
    exhaustive by construction. One narrow projection, no shuffle; a
    downstream ``filter(split = 'train')`` folds into the scan predicate.
    Same key-type contract as :func:`sample_mixture` (integral or string
    keys, NULLs fold to key 0 / ``''``).

    Use a DIFFERENT seed than any :func:`sample_mixture` call on the same
    key column: the hash family is shared, so equal seeds would correlate
    the split with the sampling decision (e.g. rate-0.1 sampling at seed s
    would land entirely inside a 0.1 'train' fraction at seed s).
    """
    h = key_hash(df, key_col, seed)
    expr = F.lit(None).cast("string")
    for name, t in reversed(_split_thresholds(fractions)):
        expr = F.when(h < F.lit(t), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def split_sql_case(
    fractions: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 101,
    string_key: bool = False,
) -> str:
    """The :func:`split_by_hash` label as one ANSI-SQL CASE expression —
    same integer thresholds, same branch order, for oracles and
    cross-engine replays."""
    h = key_hash_sql(key_col, seed, string_key)
    arms = "".join(
        f" WHEN ({h}) < {t} THEN '" + name.replace("'", "''") + "'"
        for name, t in _split_thresholds(fractions)
    )
    return f"CASE{arms} ELSE NULL END"


def shuffle_key_sql(key_col: str, seed: int, string_key: bool = False) -> str:
    """The :func:`shuffle_sequences` ``shuffle_key`` as ANSI SQL."""
    return mix_sql(key_hash_sql(key_col, seed, string_key), seed)


def shuffle_sequences(
    df: DataFrame,
    key_col: str = "seq_id",
    seed: int = 29,
    out_col: str = "shuffle_key",
) -> DataFrame:
    """Deterministic global pseudo-random reordering for training-shard
    writes: attach ``out_col`` (the key's decision hash) and lay the data
    out globally sorted by it — a distributed range sort (sampled
    boundaries, one exchange), never a single-partition total sort. Ties
    (hash collisions) break on the key, so the order is total and
    reproducible run-over-run.

    Packed sequences come out of :func:`pack_sequences` ordered by the
    corpus scan; training wants them decorrelated. Writing this frame
    preserves the layout (files ascend by ``out_col``), so a data loader
    reading shards in file order replays one fixed global permutation —
    re-shuffling per epoch is a seed change, not a new algorithm.

    The shuffle key is :func:`~.hashing.key_hash` pushed through a
    murmur-style XOR-shift finalizer (:func:`~.hashing.mix`): the bare
    hash is affine in the key, so contiguous key ranges would land on an
    arithmetic-progression lattice (batch j = a stride pattern over the corpus, not a random
    draw). No chain of affine rounds can fix that — affine maps compose
    to affine — hence the nonlinear rounds. Replayed bit-exactly in SQL
    by :func:`shuffle_key_sql`.
    """
    h = mix(key_hash(df, key_col, seed), seed)
    out = df.withColumn(out_col, h)
    parts = [F.col(out_col), F.col(key_col)]
    return out.repartitionByRange(*parts).sortWithinPartitions(*parts)


def length_bucket(
    df: DataFrame,
    boundaries: list[int],
    len_col: str | None = None,
    tokens_col: str = "tokens",
    out_col: str = "bucket",
) -> DataFrame:
    """Bucket rows by length for padding-efficient batching: bucket i
    holds lengths in [boundaries[i-1], boundaries[i]), bucket 0 everything
    below the first boundary, bucket len(boundaries) everything at or
    above the last. Batching same-bucket sequences bounds pad waste by the
    bucket's width — the standard fix for quadratic attention cost on
    ragged batches.

    Length is ``len_col`` when given, else ``size(tokens_col)``. One
    branch-free expression (count the boundaries <= length via a literal
    array filter), pure Catalyst; the DuckDB oracle replays it with
    ``list_filter``. Boundaries must be strictly increasing.
    """
    if not boundaries or any(
        b2 <= b1 for b1, b2 in zip(boundaries, boundaries[1:])
    ):
        raise ValueError(f"boundaries must be strictly increasing, got {boundaries}")
    n = F.col(len_col) if len_col else F.size(tokens_col)
    arr = F.array(*[F.lit(int(b)) for b in boundaries])
    return df.withColumn(
        out_col, F.size(F.filter(arr, lambda b: b <= n)).cast("int")
    )


def _cutoff_micros(cutoff) -> int:
    """Parse a split cutoff (ISO string / datetime / epoch seconds) to
    exact integer epoch microseconds — the one representation both
    engines compare identically (double epoch-seconds has a ~0.24 us ULP
    in the 2020s; a row AT the boundary could flip sides)."""
    from datetime import datetime, timezone

    if isinstance(cutoff, (int, float)):
        return int(round(float(cutoff) * 1_000_000))
    if isinstance(cutoff, str):
        cutoff = datetime.fromisoformat(cutoff)
    if isinstance(cutoff, datetime):
        if cutoff.tzinfo is None:
            cutoff = cutoff.replace(tzinfo=timezone.utc)
        # pure integer arithmetic: timestamp() is a float with ~0.24 us
        # ULP in the 2020s epoch range and int() truncates, so a
        # microsecond-precision cutoff could land 1 us low (ADVICE r5)
        from datetime import timedelta

        epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
        return (cutoff - epoch) // timedelta(microseconds=1)
    raise TypeError(f"unsupported cutoff type {type(cutoff).__name__}")


def temporal_split(
    df: DataFrame,
    cutoff,
    ts_col: str = "ts",
    embargo_s: float = 0.0,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-free TEMPORAL train/test carve (the purged/embargoed split
    of time-series CV): rows with ``ts <= cutoff`` are ``'train'``, rows
    with ``ts > cutoff + embargo_s`` are ``'test'``, rows INSIDE the
    embargo window get NULL — they belong to neither side, because any
    feature built with a trailing window or as-of lookback of up to
    ``embargo_s`` seconds would straddle the boundary and leak test-side
    information into training (complements :func:`split_by_hash`, which
    carves by key and cannot protect a time axis).

    All comparisons are exact integer micros (:func:`_cutoff_micros` +
    ``ts_micros``), so boundary rows land on the same side on every
    engine. Rows with NULL ``ts_col`` get a NULL label (unplaceable in
    time — they belong to neither side; filter them upstream if they
    should error instead). Map-only narrow projection; a downstream
    ``filter(split = 'train')`` folds into the scan predicate and at
    100 TB prunes time-partitioned inputs at the file level.
    North-rule op (BASELINE.json zero-temporal-leakage contract);
    reference has no temporal axis.
    """
    from ..functions import ts_micros

    cut_us = _cutoff_micros(cutoff)
    emb_us = int(round(float(embargo_s) * 1_000_000))
    if emb_us < 0:
        raise ValueError(f"embargo_s={embargo_s}; expected >= 0")
    t = ts_micros(F.col(ts_col))
    return df.withColumn(
        out_col,
        F.when(t <= F.lit(cut_us), F.lit("train"))
        .when(t > F.lit(cut_us + emb_us), F.lit("test"))
        .otherwise(F.lit(None).cast("string")),
    )


def temporal_split_sql(
    cutoff,
    ts_col: str = "ts",
    embargo_s: float = 0.0,
) -> str:
    """The :func:`temporal_split` label as one ANSI-SQL CASE expression
    (DuckDB ``epoch_us`` = Spark ``ts_micros``), bit-exact at both
    boundaries."""
    cut_us = _cutoff_micros(cutoff)
    emb_us = int(round(float(embargo_s) * 1_000_000))
    return (
        f"CASE WHEN epoch_us({ts_col}) <= {cut_us} THEN 'train' "
        f"WHEN epoch_us({ts_col}) > {cut_us + emb_us} THEN 'test' "
        f"ELSE NULL END"
    )
