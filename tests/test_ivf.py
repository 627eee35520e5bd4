"""IVF ANN: recall vs the brute-force cosine oracle on the real
embeddings table, bucket pruning actually prunes, full-probe equals
exact."""

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import _t
from htrc_feature_reader_spark.operators.ivf import ivf_index, ivf_topk
from htrc_feature_reader_spark.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    return _t(spark, "/root/testdata/sf0.001", "embeddings")


@pytest.fixture(scope="module")
def index(emb):
    return ivf_index(emb, n_centroids=8, n_iters=3)


def _queries(emb, n=10):
    return (
        emb.orderBy("vec_id").limit(n)
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_embedding"))
    )


def test_ivf_recall_vs_brute(spark, emb, index):
    assigned, centroids = index
    qs = _queries(emb)
    got = ivf_topk(assigned, centroids, qs, k=5, nprobe=4)
    exact = cosine_topk(qs, emb, k=5)
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    recall = len(g & e) / len(e)
    assert recall >= 0.8, recall


def test_ivf_full_probe_equals_exact(spark, emb, index):
    """nprobe == n_centroids probes every bucket -> identical to brute."""
    assigned, centroids = index
    qs = _queries(emb, n=5)
    got = ivf_topk(assigned, centroids, qs, k=5, nprobe=len(centroids))
    exact = cosine_topk(qs, emb, k=5)
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert g == e


def test_ivf_buckets_partition_corpus(emb, index):
    assigned, centroids = index
    n = emb.count()
    per_bucket = dict(
        (r["__bucket"], r["n"])
        for r in assigned.groupBy("__bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert sum(per_bucket.values()) == n  # every vector in exactly one bucket
    assert len(per_bucket) > 1  # the quantizer actually splits the space


def test_index_jobs_are_labelled(emb, job_labels):
    """The seed collect and every Lloyd iteration's collect run under an
    ``ivf_index:`` description."""
    descs = job_labels(lambda: ivf_index(emb, n_centroids=4, n_iters=2))
    assert set(descs) == {"ivf_index: seed collect", "ivf_index: Lloyd iteration"}, descs


@pytest.mark.parametrize(
    "n_rows,n_centroids,n_iters,match",
    [(0, 4, 0, "empty corpus"), (0, 4, 2, "empty corpus"),
     (None, 0, 2, "n_centroids >= 1")],
    ids=["empty-no-iters", "empty", "zero-centroids"],
)
def test_ivf_index_rejects_empty_codebook(emb, n_rows, n_centroids, n_iters, match):
    """No seed vector means no codebook: a named ValueError, not an
    analysis error from indexing an empty centroid array."""
    corpus = emb.limit(n_rows) if n_rows is not None else emb
    with pytest.raises(ValueError, match=match):
        ivf_index(corpus, n_centroids=n_centroids, n_iters=n_iters)
