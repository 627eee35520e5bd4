"""Round-5 third wave: per-char Shannon entropy, exact/approx per-group
quantiles + quantile-gated filtering, seed-pure per-group sampling, and
the hashed-n-gram multinomial Naive Bayes classifier — hand-computed
values, degenerate-input contracts, determinism across partitionings,
and plan-shape guards."""

import math

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.classify import (
    nb_classify,
    nb_score,
    nb_train,
)
from htrc_feature_reader_spark.operators.selection import sample_per_group
from htrc_feature_reader_spark.operators.stats import (
    filter_by_group_quantile,
    group_quantile,
)
from htrc_feature_reader_spark.operators.text import char_entropy


def _formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# char_entropy


def test_char_entropy_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "aabb"), (2, "abcd"), (3, "aaaa"), (4, ""), (5, None)],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_chars"], r["entropy_bits"])
        for r in char_entropy(df).collect()
    }
    # 2 symbols at p=0.5 each -> exactly 1 bit
    assert out[1][0] == 4 and abs(out[1][1] - 1.0) < 1e-12
    # 4 symbols uniform -> 2 bits
    assert abs(out[2][1] - 2.0) < 1e-12
    # single-char run -> legitimate 0.0, NOT null
    assert out[3] == (4, 0.0)
    # empty text -> no distribution: n_chars 0, NULL entropy (the '' split
    # artifact [''] must be stripped, or this would read (1, 0.0))
    assert out[4] == (0, None)
    # NULL text propagates NULL
    assert out[5][1] is None


def test_char_entropy_bounds_and_multibyte(spark):
    # entropy of n distinct chars is exactly log2(n); multibyte chars are
    # single symbols under split('')
    df = spark.createDataFrame([(1, "αβγαβγ"), (2, "x y")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert out[1]["n_chars"] == 6
    assert abs(out[1]["entropy_bits"] - math.log2(3)) < 1e-12
    # space counts as a symbol
    assert out[2]["n_chars"] == 3 and abs(out[2]["entropy_bits"] - math.log2(3)) < 1e-12


def test_char_entropy_zero_shuffle_plan(spark):
    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    plan = _formatted(char_entropy(df))
    assert "Exchange" not in plan  # pure row-local map


# ---------------------------------------------------------------------------
# group_quantile / filter_by_group_quantile


@pytest.fixture(scope="module")
def scored(spark):
    rows = [("a", v) for v in [10, 20, 30, 40]] + [("b", v) for v in [5, 5, 7]]
    return spark.createDataFrame(rows, ["g", "v"])


def test_group_quantile_disc_semantics(spark, scored):
    # percentile_disc: smallest value whose cume_dist >= q
    got = {
        r["group"]: r["threshold"]
        for r in group_quantile(scored, "v", "g", q=0.5).collect()
    }
    assert got == {"a": 20, "b": 5}  # cume_dist(20)=0.5; dup 5s reach 2/3
    got75 = {
        r["group"]: r["threshold"]
        for r in group_quantile(scored, "v", "g", q=0.75).collect()
    }
    assert got75 == {"a": 30, "b": 7}
    got1 = {
        r["group"]: r["threshold"]
        for r in group_quantile(scored, "v", "g", q=1.0).collect()
    }
    assert got1 == {"a": 40, "b": 7}


def test_group_quantile_q_validation(scored):
    with pytest.raises(ValueError):
        group_quantile(scored, "v", "g", q=0.0)
    with pytest.raises(ValueError):
        group_quantile(scored, "v", "g", q=1.5)


def test_filter_by_group_quantile_both_tails(spark, scored):
    top = filter_by_group_quantile(scored, "v", "g", q=0.5, keep="ge")
    assert sorted((r["g"], r["v"]) for r in top.collect()) == [
        ("a", 20), ("a", 30), ("a", 40), ("b", 5), ("b", 5), ("b", 7),
    ]
    bot = filter_by_group_quantile(scored, "v", "g", q=0.5, keep="lt")
    assert sorted((r["g"], r["v"]) for r in bot.collect()) == [("a", 10)]
    # ge + lt partition the input
    assert top.count() + bot.count() == scored.count()
    with pytest.raises(ValueError):
        filter_by_group_quantile(scored, "v", "g", keep="top")


def test_filter_by_group_quantile_unhinted_join(spark, scored):
    # groups are unbounded (domains in a crawl): the threshold join must
    # carry no forced broadcast hint — AQE decides from actual size
    plan = filter_by_group_quantile(scored, "v", "g")._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in plan


# ---------------------------------------------------------------------------
# sample_per_group


@pytest.fixture(scope="module")
def groups(spark):
    rows = [(i, "big") for i in range(100)] + [(1000 + i, "tiny") for i in range(3)]
    return spark.createDataFrame(rows, ["doc_id", "g"])


def test_sample_per_group_sizes_and_whole_small_groups(spark, groups):
    out = sample_per_group(groups, "g", k=10, seed=0)
    by_g = {r["g"]: r["cnt"] for r in out.groupBy("g").agg(F.count("*").alias("cnt")).collect()}
    assert by_g == {"big": 10, "tiny": 3}  # tiny kept whole


def test_sample_per_group_seed_pure_and_partition_independent(spark, groups):
    a = sorted(r["doc_id"] for r in sample_per_group(groups, "g", 10, seed=5).collect())
    b = sorted(
        r["doc_id"]
        for r in sample_per_group(groups.repartition(17), "g", 10, seed=5).collect()
    )
    assert a == b  # same draw on any partitioning
    c = sorted(r["doc_id"] for r in sample_per_group(groups, "g", 10, seed=6).collect())
    assert a != c  # seeds decorrelate


def test_sample_per_group_is_without_replacement(spark, groups):
    out = sample_per_group(groups, "g", k=50, seed=1)
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == len(set(ids))


def test_sample_per_group_single_exchange(spark, groups):
    plan = _formatted(sample_per_group(groups, "g", 10))
    # one hash-partition on the group (formatted lists each node twice:
    # tree + detail), and the rank limit is pushed BELOW the shuffle as a
    # partial per-partition top-k, so only ~k rows per group move
    assert plan.count("+- Exchange") == 1
    assert "WindowGroupLimit" in plan


# ---------------------------------------------------------------------------
# Naive Bayes


@pytest.fixture(scope="module")
def langs(spark):
    # two cleanly separable "languages" + unlabeled rows of each
    en = ["the cat sat", "the dog sat", "the cat ran", "dog and cat"]
    fr = ["le chat assis", "le chien assis", "le chat court", "chien et chat"]
    rows = (
        [(i, t, "en") for i, t in enumerate(en)]
        + [(100 + i, t, "fr") for i, t in enumerate(fr)]
        + [(200, "the cat", None), (201, "le chat", None), (202, "", None)]
    )
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_nb_train_dense_grid(spark, langs):
    model = nb_train(langs, n_buckets=64)
    assert model.count() == 2 * 64  # dense by construction
    # priors: 4 docs each -> ln(0.5)
    priors = {r["label"]: r["log_prior"] for r in model.select("label", "log_prior").distinct().collect()}
    assert abs(priors["en"] - math.log(0.5)) < 1e-12
    assert abs(priors["fr"] - math.log(0.5)) < 1e-12


def test_nb_classify_separates_and_priors_fallback(spark, langs):
    out = {r["doc_id"]: r for r in nb_classify(langs, n_buckets=64).collect()}
    assert len(out) == 11  # row-preserving over ALL docs
    for i in range(4):
        assert out[i]["pred"] == "en"
        assert out[100 + i]["pred"] == "fr"
    # label propagation onto the unlabeled rows
    assert out[200]["pred"] == "en" and out[200]["n_feats"] > 0
    assert out[201]["pred"] == "fr"
    # empty doc: priors-only; tie ln(.5)=ln(.5) breaks to LARGEST label
    assert out[202]["n_feats"] == 0
    assert out[202]["pred"] == "fr"
    assert abs(out[202]["logp"] - math.log(0.5)) < 1e-12


def test_nb_score_hand_computed(spark):
    # 1 label, 1 doc "a a", unigrams only, 4 buckets: every gram lands in
    # one bucket b with c_lb=2, n_l=2 -> log_cond = ln(3/6); prior ln(1)=0
    df = spark.createDataFrame([(1, "a a", "x")], ["doc_id", "text", "lang"])
    model = nb_train(df, n_buckets=4, ngrams=(1,))
    got = nb_score(df, model, n_buckets=4, ngrams=(1,)).collect()[0]
    assert got["pred"] == "x" and got["n_feats"] == 2
    assert abs(got["logp"] - 2 * math.log(3.0 / 6.0)) < 1e-12


def test_nb_featurizer_mismatch_is_callers_problem_but_runs(spark, langs):
    # documented contract: n_buckets must match; a mismatch still runs
    # (collisions are part of the model), never crashes
    model = nb_train(langs, n_buckets=64)
    assert nb_score(langs, model, n_buckets=64, ngrams=(1,)).count() == 11


def test_nb_no_cartesian_and_bounded_broadcasts(spark, langs):
    plan = _formatted(nb_classify(langs, n_buckets=64))
    assert "CartesianProduct" not in plan
    # the model join is a broadcast (bounded n_labels x n_buckets grid)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_group_quantile_exact_ignores_null_values(spark):
    # NULLs in value_col must not shift cume_dist rank or denominator:
    # [NULL]*8 + [10, 20] at q=0.9 -> percentile_disc gives 20 (ADVICE r5);
    # the pre-fix exact path returned 10
    rows = [("g", None)] * 8 + [("g", 10), ("g", 20)]
    df = spark.createDataFrame(rows, "g string, v long")
    exact = group_quantile(df, "v", "g", q=0.9).collect()
    assert exact[0]["threshold"] == 20
