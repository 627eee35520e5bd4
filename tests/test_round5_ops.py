"""Round-5 operators: unigram LM quality scoring, per-doc n-gram novelty,
and cross-source n-gram overlap — hand-computed values plus the
no-forced-broadcast scale contracts."""

import math

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.dedup import ngram_novelty
from htrc_feature_reader_spark.operators.stats import source_ngram_overlap
from htrc_feature_reader_spark.operators.text import unigram_logprob


def _analyzed(df):
    return df._jdf.queryExecution().analyzed().toString()


def _formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# unigram_logprob


def test_unigram_logprob_hand_computed(spark):
    # counts: a:2, b:2, c:1; total 5
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert rows[1]["n_tokens"] == 3 and rows[2]["n_tokens"] == 2
    b25 = math.log2(5 / 2)  # -log2(2/5)
    assert rows[1]["bits_per_token"] == pytest.approx(b25, rel=1e-12)
    assert rows[2]["bits_per_token"] == pytest.approx(
        (b25 + math.log2(5)) / 2, rel=1e-12
    )


def test_unigram_logprob_empty_tokens_ignored(spark):
    # leading/multiple whitespace must not contribute empty tokens, and a
    # document with no token at all (NULL, empty, whitespace only) has no row
    docs = spark.createDataFrame(
        [(1, "  a   a  "), (2, None), (3, ""), (4, " \t  ")],
        "doc_id long, text string",
    )
    rows = unigram_logprob(docs).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["n_tokens"] == 2
    assert rows[0]["bits_per_token"] == pytest.approx(0.0, abs=1e-12)  # p(a)=1


def test_unigram_logprob_no_forced_vocab_broadcast(spark):
    """Same contract as tf_idf/bm25: the token-frequency table is
    vocabulary-sized (unbounded at web scale), so the token-keyed join
    must carry NO broadcast hint — the ONLY hint is the 1-row total
    funnel. AQE still broadcasts at small scale from actual size."""
    docs = spark.createDataFrame(
        [(i, f"t{i % 7} t{(i + 1) % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    out = unigram_logprob(docs)
    assert _analyzed(out).count("ResolvedHint") == 1  # the 1-row total only
    out.collect()
    final = _formatted(out)
    assert "isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final  # AQE's runtime choice when small


# ---------------------------------------------------------------------------
# ngram_novelty


def test_ngram_novelty_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z q"), (3, "a b")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_novelty(docs).collect()}
    # "x y z" shared; "y z w" / "y z q" unique; doc 3 has no 3-grams
    assert set(rows) == {1, 2}
    for d in (1, 2):
        assert rows[d]["n_shingles"] == 2
        assert rows[d]["n_novel"] == 1
        assert rows[d]["novelty_frac"] == pytest.approx(0.5)


def test_ngram_novelty_all_novel_and_validation(spark):
    docs = spark.createDataFrame([(1, "p q r s")], "doc_id long, text string")
    r = ngram_novelty(docs).collect()[0]
    assert r["n_novel"] == r["n_shingles"] == 2
    assert r["novelty_frac"] == pytest.approx(1.0)


def test_ngram_novelty_no_hints_no_cartesian(spark):
    docs = spark.createDataFrame([(1, "x y z w")], "doc_id long, text string")
    out = ngram_novelty(docs)
    assert "ResolvedHint" not in _analyzed(out)
    assert "CartesianProduct" not in _formatted(out)


# ---------------------------------------------------------------------------
# source_ngram_overlap


def test_source_ngram_overlap_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "s1", "x y z w"), (2, "s2", "x y z"), (3, "s1", "x y z")],
        "doc_id long, source string, text string",
    )
    rows = {r["source"]: r for r in source_ngram_overlap(docs).collect()}
    # s1 vocabulary {xyz, yzw}: xyz shared with s2; s2 {xyz}: shared
    assert rows["s1"]["n_shingles"] == 2 and rows["s1"]["n_shared"] == 1
    assert rows["s1"]["shared_frac"] == pytest.approx(0.5)
    assert rows["s2"]["n_shingles"] == 1 and rows["s2"]["n_shared"] == 1
    assert rows["s2"]["shared_frac"] == pytest.approx(1.0)


def test_source_ngram_overlap_disjoint_sources(spark):
    docs = spark.createDataFrame(
        [(1, "s1", "a b c"), (2, "s2", "d e f")],
        "doc_id long, source string, text string",
    )
    rows = {r["source"]: r for r in source_ngram_overlap(docs).collect()}
    assert rows["s1"]["n_shared"] == 0 and rows["s2"]["n_shared"] == 0


def test_source_ngram_overlap_no_doc_reattach_join(spark):
    """The shingle set is keyed by source directly — the plan must not
    contain a doc-id join to reattach source (one aggregate + one
    self-keyed join only), and nothing is force-broadcast."""
    docs = spark.createDataFrame(
        [(1, "s1", "x y z w")], "doc_id long, source string, text string"
    )
    out = source_ngram_overlap(docs)
    plan = _analyzed(out)
    assert "ResolvedHint" not in plan
    # exactly ONE join (pairs x span counts) — no doc-id reattach join
    assert plan.count("Join ") == 1
