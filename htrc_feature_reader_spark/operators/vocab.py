"""Vocabulary set operations (operator R3).

Reference: chunk_to_wem intersects the document vocabulary with a model's
vocabulary and subtracts stopwords (/root/reference/htrc_features/
transformations.py:18-27, via pandas index ops). Corpus-scale analog:
left-semi / left-anti joins against vocabulary DataFrames, always broadcast:
the vocab is model-sized."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def restrict_to_vocab(
    df: DataFrame,
    vocab: DataFrame,
    token_col: str = "token",
    vocab_col: str = "token",
) -> DataFrame:
    """Keep only rows whose token is in ``vocab`` (broadcast left-semi join)."""
    v = vocab.select(F.col(vocab_col).alias(token_col)).distinct()
    return df.join(F.broadcast(v), on=token_col, how="left_semi")


def remove_stopwords(
    df: DataFrame,
    stopwords: DataFrame,
    token_col: str = "token",
    stop_col: str = "token",
) -> DataFrame:
    """Drop rows whose token is in ``stopwords`` (broadcast left-anti join)."""
    s = stopwords.select(F.col(stop_col).alias(token_col)).distinct()
    return df.join(F.broadcast(s), on=token_col, how="left_anti")
