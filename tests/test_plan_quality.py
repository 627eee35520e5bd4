"""Physical-plan regression guards: the properties that make these
operators scale must survive refactors — pushed-down filters, pruned scans,
single-shuffle as-of, broadcast label joins, no stray Python in the fold
path. (The round brief: '.explain the plan and iterate until it's the plan
you'd want' — these tests freeze that plan.)"""

import re

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators import asof_join, build_pit_features, fold_tokenlist
from htrc_feature_reader_spark.operators.chunking import chunked_tokenlist
from htrc_feature_reader_spark.synth import generate_sequences


def _formatted(df):
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def tl_parquet(spark, tokenlist_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan") / "tl")
    tokenlist_df.write.parquet(p)
    return spark.read.parquet(p)


def test_fold_pushes_filters_and_prunes_columns(tl_parquet):
    plan = _formatted(
        fold_tokenlist(tl_parquet, pages=True, section="body", page_select=3,
                       case=False, pos=False)
    )
    assert "EqualTo(section,body)" in plan
    assert "EqualTo(page,3)" in plan
    # pos not needed by this fold -> pruned from the scan
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "pos" not in scan_schema
    # fold itself is JVM-only (no Python-eval operators)
    for op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert op not in plan


def test_fold_partial_aggregation(tl_parquet):
    plan = _formatted(fold_tokenlist(tl_parquet, section="group"))
    # partial + final hash aggregate around exactly one exchange
    assert plan.count(") Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_asof_single_shuffle_window(spark):
    probe = spark.createDataFrame([("a", 1)], "key string, ts long").selectExpr(
        "key", "timestamp_micros(ts) as ts"
    )
    build = probe.withColumn("v", F.lit(1.0))
    plan = _formatted(asof_join(probe, build, on="key", ts="ts"))
    assert plan.count(") Exchange") == 1
    assert plan.count(") Window") == 1
    assert plan.count(") Sort") == 1
    # the union-window strategy is pure JVM (no Python-eval operators)
    for op in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert op not in plan


def _analyzed(df):
    return df._jdf.queryExecution().analyzed().toString()


def test_chunk_labels_default_unhinted_aqe_broadcasts(tl_parquet):
    # the label map is #pages-sized corpus-wide: the default must carry NO
    # forced broadcast hint (AQE decides from runtime size)...
    out = chunked_tokenlist(tl_parquet, chunk_target=300, section="all",
                            page_ref=True)
    assert "ResolvedHint" not in _analyzed(out)
    plan = _formatted(out)
    # the only Python is the batched Arrow chunk labeler (scalar pandas
    # UDF over per-doc count arrays — one invocation per Arrow batch, not
    # one per document like FlatMapGroupsInPandas)
    assert plan.count(") ArrowEvalPython") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python
    # ...and at small scale AQE still picks a broadcast join at runtime
    out.collect()
    final = _formatted(out)
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final
    # the explicit opt-in still forces the hint for notebook-scale use
    hinted = chunked_tokenlist(tl_parquet, chunk_target=300, section="all",
                               broadcast_labels=True)
    assert "ResolvedHint" in _analyzed(hinted)
    # the default derives page counts from a second evaluation of the
    # fold; with page_counts= supplied the final plan scans the tokens once
    assert _final_plan(out).count("FileScan parquet") == 2
    counts = tl_parquet.sparkSession.createDataFrame(
        tl_parquet.groupBy("htid", "page").agg(F.sum("count").alias("count")).collect()
    )
    seamed = chunked_tokenlist(tl_parquet, chunk_target=300, section="all",
                               page_ref=True, page_counts=counts)
    assert _final_plan(seamed).count("FileScan parquet") == 1
    assert sorted(seamed.collect()) == sorted(out.collect())


def test_jaccard_pairs_no_forced_broadcast(tl_parquet):
    # the per-doc shingle-size table is corpus-sized: never hint it
    from htrc_feature_reader_spark.operators.dedup import (
        jaccard_pairs,
        stop_capped_shingle_ids,
    )

    sh = tl_parquet.select(
        F.col("htid").alias("id"), F.col("token").alias("shingle")
    ).distinct()
    assert "ResolvedHint" not in _analyzed(jaccard_pairs(sh, threshold=0.1))
    # the stop set is bounded by construction -> hinted, as is the 1-row N
    docs = tl_parquet.select(F.col("htid").alias("doc_id"), F.col("token").alias("text"))
    assert _analyzed(stop_capped_shingle_ids(docs)).count("ResolvedHint") == 2


def test_salted_asof_replicates_build_not_probe(spark):
    probe = spark.createDataFrame([("a", 1)], "key string, ts long").selectExpr(
        "key", "timestamp_micros(ts) as ts"
    )
    build = probe.withColumn("v", F.lit(1.0))
    plan = _formatted(asof_join(probe, build, on="key", ts="ts", salt=4))
    assert ") Generate" in plan or "explode" in plan  # build replication
    assert plan.count(") Window") == 1  # still one window pass

def test_pack_sequences_single_reassembly_shuffle(spark):
    """After the checkpointed range sort, packing must be: one narrow
    Arrow pass (the offset cumsum), one explode, and exactly ONE exchange
    (the uniform seq_id reassembly). A second shuffle or a per-group
    pandas stage here would double the corpus movement at 10^12 tokens."""
    from htrc_feature_reader_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(f"d{i}", list(range(i % 7 + 1))) for i in range(50)],
        "doc_id string, tokens array<int>",
    )
    plan = _formatted(pack_sequences(df, 16))
    assert plan.count(") Exchange") == 1
    assert plan.count(") MapInPandas") == 1
    for op in ("BatchEvalPython", "FlatMapGroupsInPandas", "CartesianProduct"):
        assert op not in plan
    # exact integer floor-div for sequence assignment (no double rounding)
    assert " div " in plan


def test_sample_mixture_is_scan_predicate(spark, tmp_path):
    """The mixture filter must reach the parquet scan as a pushed data
    filter (sampled-out rows never leave the scan stage) and stay fully
    JVM-side."""
    from htrc_feature_reader_spark.operators.packing import sample_mixture

    p = str(tmp_path / "docs")
    spark.range(100).selectExpr(
        "id as doc_id", "case when id % 2 = 0 then 'web' else 'code' end as source"
    ).write.parquet(p)
    plan = _formatted(sample_mixture(spark.read.parquet(p), {"web": 0.5}))
    assert plan.count(") Exchange") == 0
    for op in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert op not in plan
    # the whole predicate is a PushedFilters/data-filter candidate: at
    # minimum the scan carries both referenced columns and a Filter node
    assert plan.count(") Filter") == 1


def test_tokenize_hash_and_repetition_stay_jvm_side(spark):
    """The hash tokenizer and the repetition folds are pure Catalyst —
    zero Python-eval operators, zero exchanges (map-only stages at any
    scale); sample_mixture's string-key path folds into the scan filter
    the same way the integral path does."""
    from htrc_feature_reader_spark.operators.packing import sample_mixture
    from htrc_feature_reader_spark.operators.text import (
        repetition_features, tokenize)

    docs = spark.createDataFrame(
        [("d1", "some text here", "web")], "doc_id string, text string, source string")
    for df in (tokenize(docs, vocab_size=1000),
               repetition_features(docs),
               sample_mixture(docs, {"web": 0.5})):
        plan = _formatted(df)
        for op in ("BatchEvalPython", "ArrowEvalPython",
                   "FlatMapGroupsInPandas", "Exchange"):
            assert op not in plan, f"{op} in plan:\n{plan}"


def test_take_per_source_single_exchange(spark):
    """The stratified carve shuffles ONCE (hash partition on source for
    the window); no Python, no extra exchange."""
    from htrc_feature_reader_spark.operators.packing import take_per_source

    docs = spark.createDataFrame(
        [(1, "web"), (2, "web")], "doc_id long, source string")
    plan = _formatted(take_per_source(docs, 5))
    assert plan.count(") Exchange") == 1
    # partial WindowGroupLimit before the shuffle = map-side top-n combine
    assert plan.count(") WindowGroupLimit") == 2
    for op in ("BatchEvalPython", "ArrowEvalPython"):
        assert op not in plan


def test_split_and_pii_are_map_only(spark):
    """split_by_hash labels and PII detect/redact are pure projections —
    zero exchanges, zero Python; a filter on the split label is a scan
    predicate away from partition pruning."""
    from htrc_feature_reader_spark.operators.packing import split_by_hash
    from htrc_feature_reader_spark.operators.text import (
        pii_features, redact_pii)

    docs = spark.createDataFrame(
        [(1, "text a@b.co here")], "doc_id long, text string")
    for df in (split_by_hash(docs, {"train": 0.9, "test": 0.1}),
               pii_features(docs), redact_pii(docs)):
        plan = _formatted(df)
        for op in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                   "MapInPandas"):
            assert op not in plan, f"{op} in plan:\n{plan}"


def test_shuffle_sequences_single_range_exchange(spark):
    """The global pseudo-random layout is ONE rangepartitioning exchange
    (distributed sort), never a single-partition total sort."""
    from htrc_feature_reader_spark.operators.packing import shuffle_sequences

    docs = spark.createDataFrame([(1,), (2,)], "seq_id long")
    plan = _formatted(shuffle_sequences(docs))
    assert plan.count(") Exchange") == 1
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_tf_idf_no_forced_vocab_broadcast(spark):
    """tf_idf's doc-frequency table is vocabulary-sized — unbounded at
    web scale (Heaps' law) — so the token-keyed join must carry NO
    broadcast hint; the ONLY hint in the plan is the 1-row corpus-size
    funnel. At small scale AQE must still pick a broadcast join at
    runtime from the actual post-aggregation size."""
    from htrc_feature_reader_spark.operators.text import tf_idf

    tc = spark.createDataFrame(
        [(f"d{i}", f"t{i % 7}", 1) for i in range(40)],
        "htid string, token string, count long")
    out = tf_idf(tc)
    assert _analyzed(out).count("ResolvedHint") == 1  # the 1-row N funnel only
    # df is a single-phase count over distinct (doc, token) rows
    assert "count(distinct" not in _analyzed(out).lower()
    out.collect()
    final = _formatted(out)
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final  # AQE still broadcasts when small


def test_bm25_no_forced_vocab_broadcast(spark):
    """Same contract as tf_idf: only the 1-row corpus-constants funnel is
    hinted; the vocabulary-sized dfreq join is AQE's choice."""
    from htrc_feature_reader_spark.operators.text import bm25

    tc = spark.createDataFrame(
        [(f"d{i}", f"t{i % 7}", 1) for i in range(40)],
        "htid string, token string, count long")
    out = bm25(tc)
    assert _analyzed(out).count("ResolvedHint") == 1
    assert "count(distinct" not in _analyzed(out).lower()
    out.collect()
    final = _formatted(out)
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final


def test_bm25_no_corpus_cartesian(spark):
    """bm25's only cross join is the broadcast 1-row corpus-constants
    funnel: no CartesianProduct, no Python, and construction runs no job."""
    from htrc_feature_reader_spark.operators.text import bm25

    tc = spark.createDataFrame(
        [("d", "t", 1)], "htid string, token string, count long")
    plan = _formatted(bm25(tc))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count(") BroadcastNestedLoopJoin") == 1  # the 1-row funnel


# ------------------------------------------- hash-consumer plan budgets
# Structural budgets of the declared hash-consumer queries, read from the
# FINAL adaptive plan after execution (the shape that actually ran, with
# stage reuse applied), over a small seeded corpus in the documents schema.

@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    import random

    rnd = random.Random(7)
    vocab = "the of and data spark hash fold join scan merge window batch row".split()
    rows = []
    for i in range(120):
        text = " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 30)))
        rows.append((i, text, rnd.choice(["en", "de", "fr"]), f"src{i % 3}", len(text)))
    d = str(tmp_path_factory.mktemp("hashdocs"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "== Final Plan ==" in plan
    return plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def test_minhash_lsh_folds_words_once(spark, docs_dir):
    """The per-word char fold is the query's dominant CPU: the LSH
    self-join's second side and the stop-shingle count must reuse the one
    folded exchange instead of re-running it."""
    from __spark_entry__ import queries

    plan = _final_plan(queries()["minhash_lsh"](spark, docs_dir))
    assert plan.count("lambdafunction(aggregate(") == 1
    assert "ReusedExchange" in plan


def test_nb_classify_scan_and_featurization_budget(spark, docs_dir):
    """Featurization (split, word fold, n-gram explode) runs exactly twice,
    over the training half and over the scored corpus; every other
    documents scan reads only ids and labels."""
    from __spark_entry__ import queries

    plan = _final_plan(queries()["nb_classify"](spark, docs_dir))
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) <= 7
    assert sum("text#" in ln for ln in scans) == 2
    assert plan.count(" Generate ") == 2
    assert plan.count("lambdafunction(aggregate(") == 2


def test_pit_features_share_one_doc_exchange(spark, tmp_path):
    """Every doc-keyed window of the PIT feature build orders by the ts
    column, so one hash exchange on the doc column feeds them all and the
    cumulative windows reuse the timeline sort."""
    p = str(tmp_path / "seqs")
    generate_sequences(spark, 200, n_docs=8, seed=5).write.parquet(p)
    feats = build_pit_features(spark.read.parquet(p), attach_payload=False)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    ops = [re.match(r"[\s:+\-]*(\w+)", ln).group(1) for ln in plan.splitlines()]
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id#\d+, \d+\)", plan)) == 1, plan
    assert ops.count("Sort") == 4, plan
    assert ops.count("Window") == 6, plan
