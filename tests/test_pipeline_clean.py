"""clean_corpus end-to-end: quality filter, language filter, exact dedup
keep-min, near-dup keep-min, token counts, survivorship report."""

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.pipeline import (
    CleanConfig,
    clean_corpus,
    survivorship,
)

GOOD = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away to the hills where nobody ever goes at all") * 2


def _docs(spark):
    rows = [
        (1, GOOD, "eng"),
        (2, GOOD, "eng"),                      # exact dup of 1 -> dropped
        (3, GOOD + " one small tail", "eng"),  # near-dup of 1 -> dropped
        (4, "short", "eng"),                   # fails min_chars/min_tokens
        (5, "!!! ??? ... ;;; ### $$$ %%% @@@ &&& *** ((( ))) [[[ ]]] "
            "!!! ??? ... ;;; ### $$$ %%% @@@ &&& *** ((( ))) [[[ ]]]",
         "eng"),                               # fails punct_ratio
        (6, ("ganz andere worte hier die mit dem englischen text nichts "
             "zu tun haben und eine eigene sprache tragen wirklich "
             "voellig anders in jedem einzelnen wort und satzteil"),
         "deu"),                               # dropped by lang filter
        (7, ("completely different english content about ships and seas "
             "and storms that shares no shingles with the fox document "
             "at all in any window of three words"), "eng"),  # survives
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_clean_corpus_funnel(spark):
    docs = _docs(spark)
    # stop_shingle_frac=0.9: the 0.5 corpus-scale default would treat the
    # near-dup pair's OWN shared shingles as stop-shingles in a 3-survivor
    # corpus (2/3 > 0.5), hiding the very similarity the test plants
    cfg = CleanConfig(keep_langs=["eng"], stop_shingle_frac=0.9)
    out = clean_corpus(docs, cfg)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [1, 7]
    row = {r["doc_id"]: r for r in out.collect()}
    assert row[1]["ws_tokens"] > 10 and row[1]["bpe_tokens"] > 0
    rep = survivorship(docs, out).collect()[0]
    assert (rep["n_in"], rep["n_out"]) == (7, 2)
    assert abs(rep["drop_rate"] - 5 / 7) < 1e-6


def test_clean_corpus_lazy_no_driver_action(spark):
    """Construction must not launch a job (the 100 TB contract)."""
    docs = _docs(spark)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    clean_corpus(docs, CleanConfig())
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_clean_corpus_no_near_dup_keeps_variant(spark):
    docs = _docs(spark)
    out = clean_corpus(docs, CleanConfig(keep_langs=["eng"], near_dup=False))
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert ids == [1, 3, 7]  # near-dup 3 survives without LSH stage


def test_clean_corpus_plan_no_cartesian_no_rowpython(spark):
    """The funnel must stay bucketed (no corpus^2) and JVM-side."""
    docs = _docs(spark)
    df = clean_corpus(docs, CleanConfig())
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan  # fully Catalyst, in fact


def test_clean_corpus_decontamination_stage(spark):
    """clean_corpus(eval_df=...) arms decontamination as the final
    stage; without it the default funnel is unchanged."""
    from pyspark.sql import functions as F
    from htrc_feature_reader_spark.operators.pipeline import CleanConfig, clean_corpus

    base = ("the quick brown fox jumps over the lazy dog while many other "
            "words pad this document out to pass every quality threshold ")
    docs = spark.createDataFrame(
        [(i, base + f"unique tail {i} with several more distinct words") 
         for i in range(20)],
        "doc_id long, text string",
    )
    cfg = CleanConfig(near_dup=False, decontaminate_n=5)
    no_decon = clean_corpus(docs, cfg)
    n0 = no_decon.count()
    assert n0 == 20
    # eval set shares the doc-0 tail 5-gram only
    ev = spark.createDataFrame(
        [("unique tail 0 with several",)], "text string")
    out = clean_corpus(docs, cfg, eval_df=ev)
    survivors = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert survivors == sorted(set(range(20)) - {0})
    # the shared quality-prefix does NOT contaminate (n-gram must match)
    assert 1 in survivors


def test_stop_shingle_frac_none_skips_cap(spark):
    """stop_shingle_frac=None skips the corpus-frequency stop-shingle
    stage entirely (no document-frequency aggregation in the plan) and is
    semantically the same as the everything-passes frac=1.0 on this
    corpus."""
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(40)]
    base = " ".join(rng.choice(vocab) for _ in range(30))
    rows = [(i, base if i % 5 == 1 else
             " ".join(rng.choice(vocab) for _ in range(25)))
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept_none = clean_corpus(
        docs, CleanConfig(stop_shingle_frac=None, near_dup_threshold=0.25))
    kept_one = clean_corpus(
        docs, CleanConfig(stop_shingle_frac=1.0, near_dup_threshold=0.25))
    assert (sorted(r["doc_id"] for r in kept_none.collect())
            == sorted(r["doc_id"] for r in kept_one.collect()))


def test_clean_config_rejects_bands_past_signature():
    """A band past the end of the signature slices to [] for every doc, and
    that shared empty bucket would make every pair a candidate."""
    with pytest.raises(ValueError, match="exceeds minhash_hashes"):
        CleanConfig(lsh_bands=5)  # 5 * 2 > 8 hashes
    CleanConfig(lsh_bands=4)  # 4 * 2 == 8: every band is full
