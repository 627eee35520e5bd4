"""Round-5 second wave: trailing event-time-horizon features, DSIR
importance weights + Gumbel resampling, interpolated bigram LM scoring,
and the per-source token-drift KL — hand-computed values, leakage
adversaries, brute-force parity for the closed-form KL correction, and
plan-shape contracts."""

import math
from datetime import datetime, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.features import trailing_window_features
from htrc_feature_reader_spark.operators.selection import (
    dsir_weights,
    hashed_ngram_buckets,
    importance_resample,
)
from htrc_feature_reader_spark.operators.stats import token_drift
from htrc_feature_reader_spark.operators.text import bigram_logprob


def _formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _ts(minutes: float):
    return datetime(2026, 1, 1) + timedelta(minutes=minutes)


# ---------------------------------------------------------------------------
# trailing_window_features


@pytest.fixture(scope="module")
def timeline(spark):
    rows = [
        # doc 1: 0min, 30min, 90min, 25h
        (1, _ts(0), 10, [1, 2]),
        (1, _ts(30), 20, [3]),
        (1, _ts(90), 40, [4]),
        (1, _ts(25 * 60), 80, [5]),
        # doc 2: duplicate timestamps
        (2, _ts(0), 1, [6]),
        (2, _ts(0), 2, [7]),
        (2, _ts(59), 4, [8]),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, ts timestamp, n_tok long, tokens array<int>"
    )


def test_trailing_inclusive_horizons(spark, timeline):
    out = trailing_window_features(
        timeline, horizons_s={"1h": 3600.0, "1d": 86400.0}
    )
    got = {
        (r["doc_id"], r["n_tok"]): r
        for r in out.collect()
    }
    # doc 1 @90min: 1h window = [30min, 90min] -> rows {30min, 90min}
    r = got[(1, 40)]
    assert r["trail_n_1h"] == 2 and r["trail_n_tok_1h"] == 60
    assert r["trail_n_1d"] == 3 and r["trail_n_tok_1d"] == 70
    # doc 1 @25h: 1h window only itself; 1d window = (1h, 25h] -> itself
    r = got[(1, 80)]
    assert r["trail_n_1h"] == 1 and r["trail_n_tok_1h"] == 80
    # 1d = [1h, 25h] -> includes the 90min row
    assert r["trail_n_1d"] == 2 and r["trail_n_tok_1d"] == 120
    # boundary is INCLUSIVE: @30min the 1h window includes t=0 exactly? no —
    # [30min-60min, 30min] = [-30min, 30min] -> both rows
    r = got[(1, 20)]
    assert r["trail_n_1h"] == 2 and r["trail_n_tok_1h"] == 30


def test_trailing_duplicate_ts_deterministic(spark, timeline):
    out = trailing_window_features(timeline, horizons_s={"1h": 3600.0})
    got = {(r["doc_id"], r["n_tok"]): r for r in out.collect()}
    # equal-ts rows see each other (range frame): both t=0 rows count 2
    assert got[(2, 1)]["trail_n_1h"] == 2
    assert got[(2, 2)]["trail_n_1h"] == 2
    assert got[(2, 1)]["trail_n_tok_1h"] == 3
    # 59min row: [-1min, 59min] covers everything
    assert got[(2, 4)]["trail_n_1h"] == 3 and got[(2, 4)]["trail_n_tok_1h"] == 7


def test_trailing_strict_excludes_as_of_instant(spark, timeline):
    out = trailing_window_features(
        timeline, horizons_s={"1h": 3600.0}, strict=True
    )
    got = {(r["doc_id"], r["n_tok"]): r for r in out.collect()}
    # strict: co-timestamped rows are NOT visible; empty window -> 0/0
    assert got[(2, 1)]["trail_n_1h"] == 0 and got[(2, 1)]["trail_n_tok_1h"] == 0
    assert got[(2, 2)]["trail_n_1h"] == 0
    assert got[(2, 4)]["trail_n_1h"] == 2 and got[(2, 4)]["trail_n_tok_1h"] == 3
    # doc 1 @90min strict: only the 30min row
    assert got[(1, 40)]["trail_n_1h"] == 1 and got[(1, 40)]["trail_n_tok_1h"] == 20


def test_trailing_no_leakage_adversary(spark, timeline):
    """Appending a FUTURE row must not change any existing row's features."""
    base = trailing_window_features(timeline, horizons_s={"1d": 86400.0})
    extra = spark.createDataFrame(
        [(1, _ts(26 * 60), 999, [9])],
        "doc_id long, ts timestamp, n_tok long, tokens array<int>",
    )
    more = trailing_window_features(
        timeline.unionByName(extra), horizons_s={"1d": 86400.0}
    ).filter(F.col("n_tok") != 999)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, more.collect()))


def test_trailing_payload_reattached_and_narrow_sort(spark, timeline):
    out = trailing_window_features(timeline, horizons_s={"1h": 3600.0})
    assert "tokens" in out.columns
    assert out.count() == timeline.count()
    # tokens pass through byte-identical
    toks = {r["n_tok"]: r["tokens"] for r in out.collect()}
    assert toks[10] == [1, 2] and toks[80] == [5]
    # the window sort runs on the narrow projection: no Window operator
    # input carries the tokens column
    plan = _formatted(out.drop("tokens"))
    assert "Window" in plan


def test_trailing_single_exchange_for_all_horizons(spark, timeline):
    """All horizons share one partitioning+sort: exactly one Exchange
    (plus nothing else) in the narrow plan — adding horizons must not
    add shuffles."""
    narrow = timeline.drop("tokens")
    out = trailing_window_features(
        narrow,
        horizons_s={"1h": 3600.0, "6h": 21600.0, "1d": 86400.0},
        payload_cols=(),
    )
    plan = _formatted(out)
    tree = plan.split("\n\n")[0]  # formatted explain: tree, then per-node details
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 1, tree
    assert tree.count("Sort") == 1, tree


# ---------------------------------------------------------------------------
# DSIR weights + resampling


def test_hashed_ngram_buckets_counts_multiplicity(spark):
    docs = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    out = hashed_ngram_buckets(docs, n_buckets=64)
    # unigrams: a, a, b; bigrams: "a a", "a b" -> 5 instances
    assert out.count() == 5
    assert out.filter((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count() == 0


def test_hashed_ngram_buckets_short_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    out = hashed_ngram_buckets(docs)
    # doc 1: one unigram, no bigram; docs 2-3: nothing
    assert out.count() == 1


def test_dsir_weights_separates_domains(spark):
    raw = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)]
        + [(i + 10, "omega psi chi phi") for i in range(5)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(4)],
        "doc_id long, text string",
    )
    w = {r["doc_id"]: r["logw"] for r in dsir_weights(raw, target).collect()}
    # every target-like doc outranks every off-domain doc
    assert min(w[i] for i in range(5)) > max(w[i + 10] for i in range(5))


def test_dsir_weights_row_preserving_empty_doc(spark):
    raw = spark.createDataFrame(
        [(1, "x y"), (2, "")], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, "x y")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in dsir_weights(raw, target).collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["n_feats"] == 0 and rows[2]["logw"] == 0.0
    assert rows[1]["n_feats"] == 3  # x, y, "x y"


def test_dsir_weights_hand_computed(spark):
    """1 bucket collapses every gram: logw must be n_feats * log(1) = 0
    regardless of corpora (both distributions are the point mass)."""
    raw = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    target = spark.createDataFrame([(2, "z z")], "doc_id long, text string")
    r = dsir_weights(raw, target, n_buckets=1).collect()[0]
    assert r["n_feats"] == 5
    assert r["logw"] == pytest.approx(0.0, abs=1e-12)


def test_importance_resample_deterministic_topk(spark):
    raw = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "doc_id long, logw double"
    )
    a = importance_resample(raw, k=10, seed=7)
    b = importance_resample(raw, k=10, seed=7)
    sa = sorted(r["doc_id"] for r in a.collect())
    sb = sorted(r["doc_id"] for r in b.collect())
    assert len(sa) == 10 and sa == sb
    c = sorted(r["doc_id"] for r in importance_resample(raw, k=10, seed=8).collect())
    assert sa != c  # seed changes the draw


def test_importance_resample_weight_dominates(spark):
    rows = [(0, 100.0)] + [(i, -100.0) for i in range(1, 40)]
    raw = spark.createDataFrame(rows, "doc_id long, logw double")
    got = importance_resample(raw, k=1, seed=3).collect()
    assert got[0]["doc_id"] == 0  # 200-nat gap >> Gumbel noise
    assert math.isfinite(got[0]["gumbel_key"])


# ---------------------------------------------------------------------------
# bigram_logprob


def test_bigram_logprob_hand_computed(spark):
    # corpus: "a b a" and "b a"
    # unigrams: a:3 b:2, N=5; transitions: (a,b):1 (b,a):2; contexts a:1 b:2
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b a")], "doc_id long, text string"
    )
    lam = 0.9
    p_ab = lam * (1 / 1) + (1 - lam) * (2 / 5)
    p_ba = lam * (2 / 2) + (1 - lam) * (3 / 5)
    rows = {r["doc_id"]: r for r in bigram_logprob(docs, lam=lam).collect()}
    assert rows[1]["n_trans"] == 2
    exp1 = (-math.log2(p_ab) - math.log2(p_ba)) / 2
    assert rows[1]["bits_per_trans"] == pytest.approx(exp1, rel=1e-12)
    assert rows[2]["n_trans"] == 1
    assert rows[2]["bits_per_trans"] == pytest.approx(-math.log2(p_ba), rel=1e-12)


def test_bigram_logprob_short_doc_null_bits(spark):
    docs = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bigram_logprob(docs).collect()}
    assert rows[1]["n_trans"] == 0 and rows[1]["bits_per_trans"] is None
    assert rows[2]["n_trans"] == 0 and rows[2]["bits_per_trans"] is None
    assert rows[3]["n_trans"] == 1


@pytest.mark.parametrize("lam", [1.5, -0.1])
def test_bigram_logprob_rejects_lam_outside_unit_interval(spark, lam):
    docs = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="lam must be in"):
        bigram_logprob(docs, lam=lam)


@pytest.mark.parametrize("lam", [0.0, 1.0])
def test_bigram_logprob_lam_bounds_valid(spark, lam):
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b a b")], "doc_id long, text string"
    )
    rows = bigram_logprob(docs, lam=lam).collect()
    assert all(r["bits_per_trans"] >= 0 for r in rows)


# ---------------------------------------------------------------------------
# token_drift


def test_token_drift_matches_bruteforce_full_vocab(spark):
    """The closed-form absent-mass correction must equal the naive KL
    computed over the FULL corpus vocabulary (numpy brute force)."""
    rows = [
        ("s1", [1, 1, 2, 3]),
        ("s1", [2, 2, 4]),
        ("s2", [5, 5, 5, 1]),
        ("s3", [1, 2, 3, 4, 5]),
    ]
    seqs = spark.createDataFrame(rows, "source string, tokens array<int>")
    alpha = 0.7
    got = {r["source"]: r for r in token_drift(seqs, alpha=alpha).collect()}

    # numpy reference over the union vocab
    from collections import Counter

    per = {}
    corpus = Counter()
    for s, toks in rows:
        per.setdefault(s, Counter()).update(toks)
        corpus.update(toks)
    vocab = sorted(corpus)
    V, N = len(vocab), sum(corpus.values())
    pc = np.array([(corpus[t] + alpha) / (N + alpha * V) for t in vocab])
    for s, cnt in per.items():
        ns = sum(cnt.values())
        ps = np.array([(cnt[t] + alpha) / (ns + alpha * V) for t in vocab])
        kl = float(np.sum(ps * (np.log(ps) - np.log(pc))))
        assert got[s]["kl"] == pytest.approx(kl, rel=1e-12), s
        assert got[s]["n_tokens"] == ns
        assert got[s]["v_present"] == len(cnt)


def test_token_drift_outlier_ranks_highest(spark):
    rows = (
        [("match", [1, 2, 3, 4] * 5)] * 4
        + [("skew", [9, 9, 9, 9, 9, 9, 9, 9])] * 4
        + [("corpusish", [1, 2, 3, 4, 9])] * 4
    )
    seqs = spark.createDataFrame(rows, "source string, tokens array<int>")
    got = {r["source"]: r["kl"] for r in token_drift(seqs).collect()}
    assert got["skew"] > got["match"]
    assert got["skew"] > got["corpusish"]


def test_token_drift_no_cartesian(spark):
    seqs = spark.createDataFrame(
        [("s", [1, 2])], "source string, tokens array<int>"
    )
    plan = _formatted(token_drift(seqs))
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", ""
    )  # the only nested-loop joins are the 1-row constant funnels
