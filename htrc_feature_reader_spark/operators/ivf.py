"""IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
scale path for embedding search, beside the exact brute-force
``similarity.cosine_topk``.

``ivf_index`` trains a small centroid codebook with Lloyd's k-means
expressed as DataFrame aggregations (assignment is a broadcast argmin over
k centroids — k is small by design, the CODEBOOK fits on every executor;
the corpus never shuffles except the per-centroid mean agg). ``ivf_topk``
probes only the ``nprobe`` nearest buckets per query: scan cost drops from
|corpus| to ~|corpus| * nprobe / k per query batch, the IVF contract.

Centroid means are float aggregations, so exact values depend on
partition-summation order — IVF is therefore recall-tested against the
brute-force oracle (tests/test_ivf.py), not value-hash-checked; recall is
partition-stable because assignment uses large margins at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import _job
from .similarity import cosine, norm


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_centroid(vec, centroids: list[tuple[int, list[float]]]):
    """argmin over the literal codebook, LINEAR in k: one struct(d, id)
    per centroid, array_sort, take the head. A when/otherwise chain would
    reference the running best twice per step and double the Catalyst
    tree per centroid (2^k nodes — unusable past k≈10)."""
    entries = [
        F.struct(
            _sq_dist(vec, F.array(*[F.lit(x) for x in c])).alias("d"),
            F.lit(cid).alias("b"),
        )
        for cid, c in centroids
    ]
    return F.array_sort(F.array(*entries))[0]["b"]


def ivf_index(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Train the codebook and assign every vector to its bucket.

    Returns (assigned, centroids): ``assigned`` = emb + ``__bucket``;
    ``centroids`` = [(bucket_id, vector)] — tiny, collected to the driver
    each Lloyd iteration (the standard k-means shape: the CODEBOOK is
    driver-sized, the corpus stays distributed).

    Deterministic init: the ``n_centroids`` vectors with the smallest ids
    seed the codebook (data-independent of partitioning). Raises
    ``ValueError`` when ``n_centroids < 1`` or ``emb`` has no rows: an
    empty codebook has no nearest centroid.
    """
    if n_centroids < 1:
        raise ValueError(f"ivf_index needs n_centroids >= 1, got {n_centroids}")
    with _job("ivf_index: seed collect"):
        seeds = (
            emb.orderBy(id_col).limit(n_centroids)
            .select(id_col, vec_col).collect()
        )
    if not seeds:
        raise ValueError("ivf_index got an empty corpus: no vector to seed the codebook")
    centroids = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)
    ]
    for _ in range(n_iters):
        assigned = emb.withColumn(
            "__bucket", _nearest_centroid(F.col(vec_col), centroids)
        )
        dims = len(centroids[0][1])
        with _job("ivf_index: Lloyd iteration"):
            sums = assigned.groupBy("__bucket").agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.element_at(vec_col, d + 1).cast("double")).alias(f"__s{d}")
                    for d in range(dims)
                ],
            ).collect()
        new = {
            r["__bucket"]: [r[f"__s{d}"] / r["__n"] for d in range(dims)]
            for r in sums
        }
        # empty buckets keep their old centroid (standard Lloyd's choice)
        centroids = [(cid, new.get(cid, c)) for cid, c in centroids]
    assigned = emb.withColumn(
        "__bucket", _nearest_centroid(F.col(vec_col), centroids)
    )
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "q_embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    tie_round: int | None = None,
) -> DataFrame:
    """Top-k by cosine, probing only each query's ``nprobe`` nearest
    buckets: join the query probe rows to the assigned corpus on bucket
    (the planner broadcasts when the query batch is small and falls back
    to shuffle join for large serving batches — no forced hint), exact
    cosine inside the probed buckets, per-query window top-k.
    ``tie_round``: rank the k-cut by ``round(cos, tie_round)`` (id
    tiebreak) so it agrees with consumers comparing rounded scores.
    Vectors without a positive norm are dropped on both sides."""
    dists = [
        (cid, _sq_dist(F.col(query_vec), F.array(*[F.lit(x) for x in c])))
        for cid, c in centroids
    ]
    ranked = queries.filter(norm(F.col(query_vec)) > 0).select(
        query_id, query_vec,
        F.array_sort(
            F.array(*[F.struct(d.alias("d"), F.lit(cid).alias("b")) for cid, d in dists])
        ).alias("__ranked"),
    ).select(
        query_id, query_vec,
        F.explode(F.slice("__ranked", 1, nprobe)).alias("__p"),
    ).select(query_id, query_vec, F.col("__p.b").alias("__bucket"))

    cand = ranked.join(assigned.filter(norm(F.col(corpus_vec)) > 0), on="__bucket")
    scored = cand.select(
        query_id,
        F.col(corpus_id),
        cosine(F.col(query_vec), F.col(corpus_vec)).alias("cos"),
    )
    rank_by = F.round("cos", tie_round) if tie_round is not None else F.col("cos")
    w = Window.partitionBy(query_id).orderBy(
        F.desc(rank_by), F.asc(corpus_id)  # deterministic tie-break
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )

