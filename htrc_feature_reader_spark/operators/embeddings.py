"""Weighted word-embedding averages (operator C7, the chunk_to_wem analog).

Reference: /root/reference/htrc_features/transformations.py:3-45 — per
chunk, the log1p(count)-weighted mean of the word vectors of tokens present
in a model vocabulary, stopwords removed. Here: a broadcast join of the
token-count table to an embedding dimension table, a per-dimension
weighted-sum aggregation (pure Catalyst, one shuffle on the group key), and
re-assembly of the vector by sorted collect.

Scale: rows explode to groups x tokens x dims. For d<=1024 this is the
simple, shuffle-friendly formulation (the per-dim partial sums combine
map-side); for very high-dim embeddings prefer summing arrays with
``zip_with`` inside a grouped-map UDF — noted, not needed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def weighted_embedding_average(
    token_counts: DataFrame,
    embeddings: DataFrame,
    group_cols: list[str] | None = None,
    token_col: str = "token",
    count_col: str = "count",
    emb_token_col: str = "token",
    emb_vec_col: str = "vector",
) -> DataFrame:
    """Per-group weighted mean embedding: (group_cols..., vector, n_terms).

    Weights are log1p(count) (the reference's choice:
    transformations.py:36-40); tokens absent from ``embeddings`` are
    dropped (vocab intersection comes free from the inner join).
    """
    group_cols = group_cols or ["htid"]
    w = F.log1p(F.col(count_col))

    emb = embeddings.select(
        F.col(emb_token_col).alias(token_col),
        F.posexplode(emb_vec_col).alias("dim", "component"),
    )
    joined = token_counts.withColumn("_w", w).join(
        F.broadcast(emb), on=token_col, how="inner"
    )
    per_dim = joined.groupBy(*group_cols, "dim").agg(
        F.sum(F.col("_w") * F.col("component")).alias("_ws"),
        F.sum("_w").alias("_wtot"),
        F.countDistinct(token_col).alias("_nt"),
    )
    return (
        per_dim.withColumn("_mean", F.col("_ws") / F.col("_wtot"))
        .groupBy(*group_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("_mean")))
            ).alias("_pairs"),
            F.max("_nt").alias("n_terms"),
        )
        .select(
            *group_cols,
            F.transform(F.col("_pairs"), lambda p: p["_mean"]).alias("vector"),
            "n_terms",
        )
    )
