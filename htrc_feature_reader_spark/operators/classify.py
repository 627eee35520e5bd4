"""Multinomial Naive Bayes text classification over hashed n-gram
buckets — the cheap, exact, fastText-shaped quality/language/domain
classifier a training-data pipeline uses to gate documents (CCNet-style
"does this look like the target corpus" filtering, lang-id beyond the
heuristic in ``text.detect_language``, domain tagging for mixture
design).

No reference-repo analog (the reference is a per-volume feature reader);
this sits in the training-data-pipeline layer with `selection.py`, whose
``hashed_ngram_buckets`` featurizer it shares — one hash family, one
bucketing, every decision replayable in the DuckDB oracle bit-for-bit.

Why Naive Bayes and not logistic regression: NB training is two
map-side-combinable counts (per (label, bucket) and per label) — fully
declarative Catalyst, no iterative solver, no MLlib dependency — and its
scores are exact integer-count arithmetic under log, so the oracle can
replay training AND inference. For hashed bag-of-ngram text features NB
is the standard strong baseline the fastText paper itself benchmarks
against.

Scale design:
- The model is DENSE by construction: every (label, bucket) pair gets a
  smoothed log-likelihood, so scoring needs no missing-feature
  correction. Its size is ``n_labels x n_buckets`` — both caller
  parameters, independent of corpus size — so broadcasting it is safe at
  any scale (the deliberate contrast with tf_idf's unbounded vocabulary;
  same argument as `selection.dsir_weights`).
- Training: one explode over the corpus feeding a map-side-combined
  count; the dense grid comes from ``labels x spark.range(n_buckets)``
  (bounded cross join, never corpus-sized).
- Scoring: one explode, one broadcast join on bucket, one
  map-side-combinable groupBy per (doc, label), then a groupBy argmax.
  Rows per doc after the join = n_instances x n_labels — linear in
  corpus size with a small constant, all JVM-side.
- Docs with NO features (empty/whitespace text) are row-preserved and
  scored on the class priors alone (the exact NB posterior for an empty
  feature bag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .selection import hashed_ngram_buckets


def nb_train(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    ngrams: tuple[int, ...] = (1, 2),
    alpha: float = 1.0,
) -> DataFrame:
    """Fit the multinomial NB model: returns the DENSE
    ``(label, bucket, log_cond, log_prior)`` table with

    - ``log_cond  = ln((c_lb + alpha) / (n_l + alpha * n_buckets))``
    - ``log_prior = ln(d_l / D)`` (document-count prior)

    where ``c_lb`` counts gram INSTANCES of bucket ``b`` in label ``l``
    docs, ``n_l`` their total, ``d_l`` the label's doc count. Exactly
    ``n_labels * n_buckets`` rows — bounded by construction (see module
    docstring), safe to broadcast. Rows with a NULL label are excluded
    from training (unlabeled data). A label whose documents yield no
    features (e.g. all empty text) is kept: ``c_lb = n_l = 0``, so its
    smoothed likelihoods are uniform, ``log_cond = ln(1 / n_buckets)``,
    and its prior still counts its documents.
    """
    labeled = docs.filter(F.col(label_col).isNotNull())
    feats = hashed_ngram_buckets(labeled, text_col, id_col, n_buckets, ngrams)
    ids = labeled.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    inst = feats.join(ids, on="id")

    counts = inst.groupBy("label", "bucket").agg(
        F.count(F.lit(1)).alias("c_lb")
    )
    doc_counts = ids.groupBy("label").agg(F.count(F.lit(1)).alias("d_l"))
    doc_counts = doc_counts.join(
        F.broadcast(doc_counts.agg(F.sum("d_l").alias("__D")))  # 1-row funnel
    )

    spark = docs.sparkSession
    grid = doc_counts.select("label").crossJoin(
        spark.range(int(n_buckets)).select(F.col("id").cast("int").alias("bucket"))
    )
    a = float(alpha)
    b = float(int(n_buckets))
    # n_l (gram instances per label) via a window over the DENSE grid join
    # instead of a second aggregation over inst: the grid holds every
    # (label, bucket) exactly once, so sum(coalesce(c_lb, 0)) per label ==
    # count(*) over inst exactly (integer counts). One evaluation of the
    # expensive featurization subplan instead of two (Spark has no
    # cross-branch common-subplan reuse), and the window runs over the
    # bounded n_labels x n_buckets model grid — never corpus-sized.
    from pyspark.sql.window import Window

    w_lbl = Window.partitionBy("label")
    return (
        grid.join(counts, on=["label", "bucket"], how="left")
        .withColumn("n_l", F.sum(F.coalesce(F.col("c_lb"), F.lit(0))).over(w_lbl))
        .join(F.broadcast(doc_counts), on="label")
        .select(
            "label",
            "bucket",
            F.log(
                (F.coalesce(F.col("c_lb"), F.lit(0)) + a)
                / (F.col("n_l") + a * b)
            ).alias("log_cond"),
            F.log(F.col("d_l") / F.col("__D")).alias("log_prior"),
        )
    )


def nb_score(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    ngrams: tuple[int, ...] = (1, 2),
    priors: DataFrame | None = None,
) -> DataFrame:
    """Score every document under a :func:`nb_train` model: one row per
    input doc — ``(id, pred, logp, n_feats)`` where ``pred`` is the
    argmax label of ``log_prior + sum over gram instances of log_cond``
    and ``logp`` that winning log-joint. Ties (exactly equal scores)
    break to the lexicographically LARGEST label — deterministic and
    identical to the oracle's ``ORDER BY score DESC, label DESC``.

    ``n_buckets``/``ngrams`` MUST match training (same featurizer);
    bucket collisions are part of the model, not an error.

    Feature-less docs (empty text) never survive the explode, so they are
    re-attached by a left join and scored on priors alone — ``pred`` is
    the max-prior label, ``logp`` its log prior, ``n_feats = 0``.

    ``priors``: optional ``(label, log_prior)`` table for that fallback.
    By default it is derived from ``model``, which re-evaluates the
    model's whole subplan (including its training featurization) a second
    time; callers that can produce the identical priors cheaply (e.g.
    :func:`nb_classify`, straight from the label doc counts) pass them
    here. Values must equal the model's ``log_prior`` bit-for-bit.
    """
    feats = hashed_ngram_buckets(docs, text_col, id_col, n_buckets, ngrams)
    scored = (
        feats.join(F.broadcast(model), on="bucket")  # bounded: model grid
        .groupBy("id", "label")
        .agg(
            F.count(F.lit(1)).alias("__n_feats"),
            (F.first("log_prior") + F.sum("log_cond")).alias("__score"),
        )
        .groupBy("id")
        .agg(
            F.max(F.struct("__score", "label")).alias("__best"),
            F.first("__n_feats").alias("n_feats"),
        )
        .select(
            "id",
            F.col("__best.label").alias("pred"),
            F.col("__best.__score").alias("logp"),
            "n_feats",
        )
    )
    # priors-only fallback for feature-less docs: a 1-row constant
    # (max over n_labels rows), broadcast by construction
    prior_src = priors if priors is not None else model.groupBy("label").agg(
        F.first("log_prior").alias("log_prior")
    )
    prior_best = (
        prior_src
        .agg(F.max(F.struct("log_prior", "label")).alias("__pb"))
        .select(
            F.col("__pb.label").alias("__p_pred"),
            F.col("__pb.log_prior").alias("__p_logp"),
        )
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return (
        ids.join(scored, on="id", how="left")
        .join(F.broadcast(prior_best))  # 1-row cross join
        .select(
            F.col("id").alias(id_col),
            F.coalesce("pred", F.col("__p_pred")).alias("pred"),
            F.coalesce("logp", F.col("__p_logp")).alias("logp"),
            F.coalesce("n_feats", F.lit(0).cast("long")).alias("n_feats"),
        )
    )


def nb_classify(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    ngrams: tuple[int, ...] = (1, 2),
    alpha: float = 1.0,
) -> DataFrame:
    """Self-train-and-score convenience: fit on the labeled subset of
    ``docs`` (NULL labels excluded), score ALL of ``docs`` — the
    label-propagation face ("classify the unlabeled crawl from the
    curated slice"). One lazy plan end-to-end.

    The priors-only fallback table is built here straight from the label
    doc counts — the identical ``ln(d_l / D)`` expression over the
    identical integer counts as the model's ``log_prior`` (bit-equal by
    construction), without re-evaluating the model subplan (whose counts
    branch re-runs the training featurization) a second time."""
    model = nb_train(
        docs, label_col, text_col, id_col, n_buckets, ngrams, alpha
    )
    ids = docs.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    dc = ids.groupBy("label").agg(F.count(F.lit(1)).alias("d_l"))
    dc = dc.join(F.broadcast(dc.agg(F.sum("d_l").alias("__D"))))  # 1-row funnel
    priors = dc.select(
        "label", F.log(F.col("d_l") / F.col("__D")).alias("log_prior")
    )
    return nb_score(
        docs, model, text_col, id_col, n_buckets, ngrams, priors=priors
    )
