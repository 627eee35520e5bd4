"""Sequence packing + mixture sampling: byte-parity with a numpy
reference, span bookkeeping, determinism under repartitioning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.packing import (
    mixture_sql_predicate,
    pack_sequences,
    sample_mixture,
)
from htrc_feature_reader_spark.synth import generate_sequences


def _ref_pack(rows, seq_len, eos=None, drop_last=True):
    """Reference: concatenate in doc_id order, reshape, record spans."""
    stream, spans = [], []  # spans: (gstart, doc, len)
    g = 0
    for doc, toks in sorted(rows, key=lambda r: r[0]):
        t = list(toks) + ([eos] if eos is not None else [])
        if not t:
            continue
        stream.extend(t)
        spans.append((g, doc, len(t)))
        g += len(t)
    seqs = {}
    for s in range((len(stream) + seq_len - 1) // seq_len):
        chunk = stream[s * seq_len:(s + 1) * seq_len]
        if drop_last and len(chunk) < seq_len:
            continue
        doc_spans = []
        for gs, doc, n in spans:
            lo, hi = max(gs, s * seq_len), min(gs + n, (s + 1) * seq_len)
            if lo < hi:
                doc_spans.append((lo - s * seq_len, doc, hi - lo))
        seqs[s] = (chunk, doc_spans)
    return seqs


def _spark_pack(spark, rows, seq_len, **kw):
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = pack_sequences(df, seq_len, **kw).collect()
    return {
        r["seq_id"]: (
            list(r["tokens"]),
            [(s["start"], s["doc_id"], s["len"]) for s in r["doc_spans"]],
        )
        for r in out
    }


def test_pack_matches_reference_bit_exact(spark):
    rows = [(f"d{i:03d}", list(range(i * 100, i * 100 + (i * 7) % 23 + 1)))
            for i in range(40)]
    for seq_len in (16, 64):
        for drop_last in (True, False):
            got = _spark_pack(spark, rows, seq_len, drop_last=drop_last)
            ref = _ref_pack(rows, seq_len, drop_last=drop_last)
            assert got == ref


def test_pack_doc_spanning_many_sequences(spark):
    """One long doc crosses several sequence boundaries; short docs pad
    around it. Every token placement and span must match the reference."""
    rows = [("a", list(range(5))), ("big", list(range(1000, 1137))),
            ("z", list(range(7)))]
    got = _spark_pack(spark, rows, 32, drop_last=False)
    ref = _ref_pack(rows, 32, drop_last=False)
    assert got == ref
    # the long doc appears as a fragment in ceil-ish many sequences
    n_big = sum(1 for toks, spans in got.values()
                for _, d, _ in spans if d == "big")
    assert n_big >= 137 // 32


def test_pack_eos_and_empty_docs(spark):
    rows = [("a", [1, 2]), ("empty", []), ("b", [3])]
    got = _spark_pack(spark, rows, 3, eos_token=0, drop_last=False)
    ref = _ref_pack(rows, 3, eos=0, drop_last=False)
    assert got == ref
    # eos after every doc (an empty doc still contributes its EOS):
    # doc order a, b, empty -> stream = [1,2,0, 3,0, 0]
    assert got[0][0] == [1, 2, 0]
    assert got[1][0] == [3, 0, 0]


def test_pack_deterministic_under_partitioning(spark):
    rows = [(f"d{i:02d}", [i] * (i % 5 + 1)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    a = {r["seq_id"]: list(r["tokens"])
         for r in pack_sequences(df, 8).collect()}
    b = {r["seq_id"]: list(r["tokens"])
         for r in pack_sequences(df.repartition(13), 8).collect()}
    assert a == b and len(a) > 0


def test_pack_build_jobs_are_labelled(spark, tmp_path, job_labels):
    """Every job a pack_sequences call launches (the barrier, reliable or
    local, and the offsets collect) carries a ``pack_sequences:``
    description."""
    rows = [(f"d{i:02d}", [i] * (i % 5 + 1)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    for kw in ({}, {"checkpoint_dir": str(tmp_path / "ck")}):
        descs = job_labels(lambda: pack_sequences(df, 8, **kw))
        assert descs
        assert all(d and d.startswith("pack_sequences: ") for d in descs), descs
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_pack_token_stream_byte_equality(spark):
    """The concatenation of packed sequences is byte-equal to the
    concatenation of the source arrays (payloads sliced, never
    re-encoded) — the north-rule token-array invariant."""
    seqs = generate_sequences(spark, 200, n_docs=20, seed=3)
    src = seqs.select("doc_id", "ts", "tokens").toPandas().sort_values(
        ["doc_id", "ts"], kind="mergesort")
    # make order unique: (doc_id, ts) can collide in synth -> add the row id
    df = seqs.select(
        "doc_id", "ts", "tokens",
        F.xxhash64("doc_id", "ts", "tokens").alias("uniq"),
    )
    out = pack_sequences(df, 512, order_cols=["doc_id", "ts", "uniq"],
                         drop_last=False)
    packed = out.orderBy("seq_id").toPandas()
    got = np.concatenate([np.asarray(t, dtype=np.int32)
                          for t in packed["tokens"]])
    n_src = int(seqs.agg(F.sum("n_tok")).first()[0])
    assert len(got) == n_src
    assert int(packed["n_tok"].sum()) == n_src
    # every full sequence has exactly seq_len tokens
    full = packed[packed["seq_id"] < packed["seq_id"].max()]
    assert (full["n_tok"] == 512).all()


def test_pack_rejects_bad_seq_len(spark):
    df = spark.createDataFrame([("a", [1])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError):
        pack_sequences(df, 0)


def test_sample_mixture_deterministic_and_rate_accurate(spark):
    df = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("web"), F.lit("book"), F.lit("code")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("source"),
    )
    rates = {"web": 0.1, "book": 0.5, "code": 1.0}
    kept = sample_mixture(df, rates).groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in kept}
    # rate 1.0 keeps EVERY row of its source, exactly
    assert got["code"] == sum(1 for i in range(20000) if i % 3 == 2)
    for s, r in rates.items():
        n_s = df.filter(F.col("source") == s).count()
        assert abs(got.get(s, 0) / n_s - r) < 0.03, (s, got.get(s), n_s)
    # deterministic: same rows kept on re-run and under repartitioning
    a = sorted(r["doc_id"] for r in sample_mixture(df, rates).collect())
    b = sorted(r["doc_id"]
               for r in sample_mixture(df.repartition(17), rates).collect())
    assert a == b


def test_sample_mixture_sql_predicate_parity(spark):
    """The generated SQL predicate keeps EXACTLY the same rows (the
    oracle-replay contract)."""
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("code").alias("source"),
    )
    rates = {"web": 0.25, "code": 0.9}
    a = sorted(r["doc_id"] for r in sample_mixture(df, rates, seed=11).collect())
    df.createOrReplaceTempView("mix_docs")
    pred = mixture_sql_predicate(rates, seed=11)
    b = sorted(r["doc_id"] for r in spark.sql(
        f"select doc_id from mix_docs where {pred}").collect())
    assert a == b and 0 < len(a) < 5000


def test_sample_mixture_default_rate_and_validation(spark):
    df = spark.createDataFrame([(1, "web"), (2, "??")], "doc_id long, source string")
    assert sample_mixture(df, {"web": 1.0}).count() == 1  # unknown dropped
    assert sample_mixture(df, {"web": 1.0}, default_rate=1.0).count() == 2
    with pytest.raises(ValueError):
        sample_mixture(df, {"web": 1.5})


def test_mixture_clean_pack_composition(spark):
    """The assembly line scripts/pack_pipeline_job.py runs (mixture ->
    clean -> tokenize -> pack) composes into one coherent result: every
    packed token traces back to a kept, cleaned document."""
    from htrc_feature_reader_spark.operators import clean_corpus, sample_mixture
    from htrc_feature_reader_spark.operators.pipeline import CleanConfig

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog number "),
            F.col("id").cast("string"),
            F.lit(" and then walks away calmly with more words to pass quality"),
        ).alias("text"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("code").alias("source"),
    )
    mixed = sample_mixture(docs, {"web": 1.0, "code": 0.25}, seed=5)
    cleaned = clean_corpus(mixed, CleanConfig(near_dup=False))
    toked = cleaned.select(
        "doc_id",
        F.transform(
            F.split("text", " "),
            lambda w: (F.ascii(w) * 31 + F.length(w)).cast("int"),
        ).alias("tokens"),
    )
    packed = pack_sequences(toked, 64, eos_token=1, drop_last=False)
    kept_docs = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    span_docs = {
        s["doc_id"]
        for r in packed.select("doc_spans").collect()
        for s in r["doc_spans"]
    }
    assert span_docs == kept_docs and len(kept_docs) > 0
    # token conservation: packed total == per-doc tokens + one EOS each
    n_packed = packed.agg(F.sum("n_tok")).first()[0]
    n_src = toked.agg(F.sum(F.size("tokens"))).first()[0]
    assert n_packed == n_src + len(kept_docs)


def test_pack_null_tokens_behave_like_empty(spark):
    """A NULL token array (tokenizer seam emitting NULL for an
    untokenizable doc) must act exactly like an empty one: EOS still
    emitted when configured, doc skipped (not silently half-dropped)
    otherwise."""
    df = spark.createDataFrame(
        [("a", [1, 2]), ("nul", None), ("b", [3])],
        "doc_id string, tokens array<int>",
    )
    got = {
        r["seq_id"]: (list(r["tokens"]),
                      [(s["start"], s["doc_id"], s["len"]) for s in r["doc_spans"]])
        for r in pack_sequences(df, 3, eos_token=0, drop_last=False).collect()
    }
    # doc order a, b, nul -> stream [1,2,0, 3,0, 0]; nul contributes its EOS
    assert got[0][0] == [1, 2, 0]
    assert got[1][0] == [3, 0, 0]
    assert ("nul" in {d for _, spans in got.values() for _, d, _ in spans})
    # without EOS, null == empty == skipped
    n = pack_sequences(df, 3, drop_last=False).agg(F.sum("n_tok")).first()[0]
    assert n == 3


def test_sample_mixture_sql_parity_negative_keys(spark):
    """Negative keys (e.g. xxhash64-derived ids) must make the SAME
    decision in the generated SQL as in Spark: plain SQL `%` keeps the
    dividend's sign, so the predicate uses the pmod-equivalent
    double-mod."""
    df = spark.range(4000).select(
        (F.col("id") - 2000).alias("doc_id"),  # half the keys negative
        F.lit("web").alias("source"),
    )
    rates = {"web": 0.3}
    a = sorted(r["doc_id"] for r in sample_mixture(df, rates, seed=3).collect())
    df.createOrReplaceTempView("neg_docs")
    pred = mixture_sql_predicate(rates, seed=3)
    b = sorted(r["doc_id"] for r in spark.sql(
        f"select doc_id from neg_docs where {pred}").collect())
    assert a == b
    assert any(k < 0 for k in a), "no negative keys survived — vacuous test"


def test_pack_explicit_partition_count(spark):
    rows = [(f"d{i:02d}", [i, i + 1]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    a = {r["seq_id"]: list(r["tokens"])
         for r in pack_sequences(df, 8, n_partitions=3).collect()}
    b = {r["seq_id"]: list(r["tokens"])
         for r in pack_sequences(df, 8).collect()}
    assert a == b and len(a) > 0


def test_unpack_round_trips_pack(spark):
    """unpack(pack(docs)) reproduces every document's token array
    bit-exactly (drop_last=False), including docs spanning many
    sequences and the EOS strip."""
    from htrc_feature_reader_spark.operators.packing import unpack_sequences

    rows = [(f"d{i:03d}", list(range(i * 50, i * 50 + (i * 11) % 37 + 1)))
            for i in range(30)] + [("dbig", list(range(5000, 5290)))]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    for eos in (None, 7):
        packed = pack_sequences(df, 64, eos_token=eos, drop_last=False)
        back = {r["doc_id"]: list(r["tokens"])
                for r in unpack_sequences(packed, eos_token=eos).collect()}
        assert back == dict(rows)


def test_pack_reliable_checkpoint_identical(spark, tmp_path):
    """checkpoint_dir (reliable checkpoint, the production durability
    tier) must produce bit-identical sequences to the localCheckpoint
    default — same range partitioning, same offsets, same spans."""
    rows = [(f"d{i:03d}", list(range(i * 40, i * 40 + (i * 13) % 29 + 1)))
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    def snap(out):
        return {r["seq_id"]: (list(r["tokens"]),
                              [(s["start"], s["doc_id"], s["len"])
                               for s in r["doc_spans"]])
                for r in out.collect()}

    local = snap(pack_sequences(df, 32, eos_token=0, drop_last=False))
    durable = snap(pack_sequences(df, 32, eos_token=0, drop_last=False,
                                  checkpoint_dir=str(tmp_path / "ckpt")))
    assert durable == local and len(local) > 0
    # the reliable checkpoint actually wrote blocks to the chosen dir
    import os
    assert any(files for _, _, files in os.walk(tmp_path / "ckpt"))


def test_sample_mixture_string_keys_duckdb_parity(spark):
    """String keys (native htids) hash through the shared rolling-hash
    family; the DuckDB oracle (string_key=True) replays every decision,
    including the NULL->'' fold and an apostrophe in a source name."""
    import duckdb

    rows = [(f"uc2.ark:/13960/t{i:04d}", "web" if i % 3 else "o'reilly")
            for i in range(600)] + [(None, "web")]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    rates = {"web": 0.4, "o'reilly": 0.9}
    a = sorted((r["doc_id"] or "") for r in
               sample_mixture(df, rates, seed=11).collect())
    pred = mixture_sql_predicate(rates, seed=11, string_key=True)
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    b = sorted((r[0] or "") for r in
               con.execute(f"select doc_id from docs where {pred}").fetchall())
    assert a == b and 0 < len(a) < len(rows)
    # decisions are per-key stable under repartitioning too
    c = sorted((r["doc_id"] or "") for r in
               sample_mixture(df.repartition(7), rates, seed=11).collect())
    assert a == c


def test_sample_mixture_rejects_non_hashable_key_types(spark):
    df = spark.createDataFrame([(1.5, "web")], "doc_id double, source string")
    with pytest.raises(TypeError, match="integral or string"):
        sample_mixture(df, {"web": 1.0})


def test_sample_mixture_null_keys_kept_at_rate_one(spark):
    """Rate 1.0 keeps the whole corpus, NULL keys included (they fold to
    key 0 / '') — the silent-full-drop failure mode is gone."""
    for schema in ("doc_id long, source string", "doc_id string, source string"):
        df = spark.createDataFrame([(None, "web"), (None, "web")], schema)
        assert sample_mixture(df, {"web": 1.0}).count() == 2


def test_mixture_rates_from_counts_temperature():
    from htrc_feature_reader_spark.operators.packing import (
        mixture_rates_from_counts, sample_mixture)

    counts = {"web": 1_000_000, "code": 10_000, "books": 100_000}
    # alpha=1: natural proportions -> every rate equal (take-all cap)
    nat = mixture_rates_from_counts(counts, alpha=1.0)
    assert all(abs(r - 1.0) < 1e-12 for r in nat.values())
    # alpha=0.3 flattens: the smallest source is taken whole, the largest
    # at the lowest rate, expected counts follow c^alpha proportions
    r = mixture_rates_from_counts(counts, alpha=0.3)
    assert r["code"] == pytest.approx(1.0)
    assert r["web"] < r["books"] < 1.0
    exp = {s: r[s] * c for s, c in counts.items()}
    assert exp["web"] / exp["code"] == pytest.approx(
        (counts["web"] / counts["code"]) ** 0.3)
    # explicit target scales down proportionally
    half = mixture_rates_from_counts(counts, alpha=0.3,
                                     target_total=sum(exp.values()) / 2)
    assert all(half[s] == pytest.approx(r[s] / 2) for s in counts)
    # degenerate inputs
    assert mixture_rates_from_counts({}) == {}
    assert mixture_rates_from_counts({"a": 0}) == {"a": 0.0}
    with pytest.raises(ValueError):
        mixture_rates_from_counts(counts, alpha=-1)


def test_sample_mixture_epochs_upsampling(spark):
    """Rates > 1 repeat rows deterministically: floor(rate) full passes
    plus a hash-decided fractional pass, each copy labeled by epoch."""
    from htrc_feature_reader_spark.operators.packing import mixture_copies_sql

    df = spark.range(9000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "rare").otherwise("web").alias("source"),
    )
    rates = {"rare": 2.5, "web": 0.5}
    out = sample_mixture(df, rates, seed=11, epoch_col="epoch")
    n_rare_src = 4500
    rare = out.filter(F.col("source") == "rare")
    n_rare = rare.count()
    # every rare doc twice, ~half three times
    assert abs(n_rare / n_rare_src - 2.5) < 0.05
    per = rare.groupBy("doc_id").count().groupBy("count").count().collect()
    mult = {r["count(1)"] if "count(1)" in r else r[0]: r[1] for r in per}
    assert set(mult) == {2, 3}
    # epochs are 0..n-1 per doc
    eps = rare.filter(F.col("doc_id") == rare.first()["doc_id"]) \
        .select("epoch").collect()
    assert sorted(e["epoch"] for e in eps) == list(range(len(eps)))
    # web at 0.5 behaves like plain sampling, epoch always 0
    web = out.filter(F.col("source") == "web")
    assert web.filter(F.col("epoch") != 0).count() == 0
    plain = sample_mixture(df, {"web": 0.5}, seed=11)
    assert sorted(r["doc_id"] for r in web.collect()) == sorted(
        r["doc_id"] for r in plain.collect())

    # DuckDB replay: identical (doc_id, epoch) multiset
    import duckdb

    con = duckdb.connect()
    con.register("mixdocs", df.toPandas())
    copies = mixture_copies_sql(rates, seed=11)
    got = con.execute(
        f"SELECT doc_id, unnest(generate_series(0, ({copies}) - 1)) AS epoch"
        " FROM mixdocs"
    ).fetchall()
    assert sorted(got) == sorted(
        (r["doc_id"], r["epoch"]) for r in out.collect())


def test_sample_mixture_epoch_requires_flag(spark):
    df = spark.createDataFrame([(1, "web")], "doc_id long, source string")
    with pytest.raises(ValueError, match="epoch_col"):
        sample_mixture(df, {"web": 1.5})
    with pytest.raises(ValueError, match="epoch_col"):
        sample_mixture(df, {"web": 0.5}, default_rate=2.0)
    # negative still rejected on both paths
    with pytest.raises(ValueError):
        sample_mixture(df, {"web": -0.1}, epoch_col="epoch")


def test_pack_documents_padded_shapes_and_parity(spark):
    from htrc_feature_reader_spark.operators.packing import pack_documents_padded

    df = spark.createDataFrame(
        [
            (1, list(range(10))),   # 2 chunks of 4 + tail 2
            (2, list(range(4))),    # exactly one chunk
            (3, [7]),               # one padded chunk
            (4, []),                # vanishes
            (5, None),              # vanishes
        ],
        "doc_id long, tokens array<int>",
    )
    out = pack_documents_padded(df, 4, pad_token=-1).collect()
    got = {(r["doc_id"], r["chunk_id"]): r for r in out}
    assert set(got) == {(1, 0), (1, 1), (1, 2), (2, 0), (3, 0)}
    assert got[(1, 0)]["tokens"] == [0, 1, 2, 3]
    assert got[(1, 2)]["tokens"] == [8, 9, -1, -1]
    assert (got[(1, 2)]["n_tok"], got[(1, 2)]["n_pad"]) == (2, 2)
    assert got[(3, 0)]["tokens"] == [7, -1, -1, -1]
    assert all(len(r["tokens"]) == 4 for r in out)
    # every real token survives in order: unpad and re-concatenate
    for d, n in [(1, 10), (2, 4), (3, 1)]:
        toks = []
        for c in sorted(k[1] for k in got if k[0] == d):
            r = got[(d, c)]
            toks += r["tokens"][: r["n_tok"]]
        assert toks == [t for t in
                        ([*range(10)] if d == 1 else [*range(4)] if d == 2 else [7])][:n]

    # ragged mode leaves the tail short
    ragged = pack_documents_padded(df, 4, pad_token=None).collect()
    tail = [r for r in ragged if r["doc_id"] == 1 and r["chunk_id"] == 2][0]
    assert tail["tokens"] == [8, 9] and tail["n_pad"] == 0

    # eos appended before chunking
    eos = pack_documents_padded(df.filter("doc_id = 2"), 4, pad_token=-1,
                                eos_token=99).collect()
    assert {r["chunk_id"]: r["tokens"] for r in eos} == {
        0: [0, 1, 2, 3], 1: [99, -1, -1, -1]}


def test_pack_documents_padded_no_shuffle_plan(spark):
    from htrc_feature_reader_spark.operators.packing import pack_documents_padded

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.sequence(F.lit(0), (F.pmod(F.col("id"), F.lit(9))).cast("int"))
        .alias("tokens"),
    )
    plan = pack_documents_padded(df, 4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "BatchEval" not in plan


def test_mixture_rates_explicit_target_can_oversample():
    """Review finding: an explicit target_total above the no-oversample
    cap must yield rates > 1 (epoch repetition), not a silently clipped
    recipe that misses the total and bends the count^alpha proportions."""
    from htrc_feature_reader_spark.operators.packing import (
        mixture_rates_from_counts,
    )

    counts = {"rare": 100, "big": 1_000_000}
    rates = mixture_rates_from_counts(counts, alpha=0.3, target_total=500_000)
    assert rates["rare"] > 1.0
    expected_total = sum(rates[s] * counts[s] for s in counts)
    assert abs(expected_total - 500_000) < 1.0  # recipe hits the target
    # default derivation still caps at exactly 1 for the boosted source
    d = mixture_rates_from_counts(counts, alpha=0.3)
    assert max(d.values()) == 1.0


def test_sample_mixture_epoch_col_collision_raises(spark):
    from htrc_feature_reader_spark.operators.packing import sample_mixture

    df = spark.createDataFrame(
        [(1, "a", 0)], "doc_id long, source string, epoch int"
    )
    with pytest.raises(ValueError, match="already exists"):
        sample_mixture(df, {"a": 1.5}, epoch_col="epoch")
