"""split_by_hash / shuffle_sequences / length_bucket — the carve-and-layout
ops feeding training shards. Split decisions are cross-engine replayed in
DuckDB (integer-exact, including at split boundaries)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.packing import (
    length_bucket,
    sample_mixture,
    shuffle_sequences,
    split_by_hash,
    split_sql_case,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc-"), F.col("id")).alias("sid"),
    ).cache()


def test_split_disjoint_exhaustive_deterministic(docs):
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_by_hash(docs, fr).cache()
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}  # no NULL bucket
    assert sum(counts.values()) == 2000
    # roughly proportional (hash-uniform; loose bounds)
    assert 0.7 < counts["train"] / 2000 < 0.9
    # deterministic: re-derivation is identical
    again = split_by_hash(docs, fr)
    assert out.join(again.withColumnRenamed("split", "s2"), "doc_id") \
              .filter("split <> s2").count() == 0


def test_split_stable_under_corpus_growth(docs):
    """A row's split depends only on (key, seed): the label computed over
    the first half equals the label computed over the whole corpus."""
    fr = {"train": 0.9, "test": 0.1}
    whole = split_by_hash(docs, fr)
    half = split_by_hash(docs.filter("doc_id < 1000"), fr)
    joined = whole.withColumnRenamed("split", "w").join(
        half.withColumnRenamed("split", "h"), "doc_id"
    )
    assert joined.filter("w <> h").count() == 0


@pytest.mark.parametrize("string_key", [False, True])
def test_split_matches_duckdb_replay(docs, string_key):
    fr = {"train": 0.85, "val": 0.05, "test": 0.10}
    key = "sid" if string_key else "doc_id"
    pdf = split_by_hash(docs, fr, key_col=key).select(key, "split").toPandas()
    con = duckdb.connect()
    con.register("t", pdf[[key]])
    sql = split_sql_case(fr, key_col=key, string_key=string_key)
    odf = con.execute(f"SELECT {key}, {sql} AS split FROM t").df()
    merged = pdf.merge(odf, on=key, suffixes=("_s", "_o"))
    assert (merged["split_s"] == merged["split_o"]).all()


def test_split_partial_fractions_leave_null_holdout(docs):
    out = split_by_hash(docs, {"train": 0.5})
    n_null = out.filter(F.col("split").isNull()).count()
    assert 0 < n_null < 2000
    assert out.filter("split = 'train'").count() + n_null == 2000


def test_split_different_seed_decorrelates_from_mixture(docs):
    """Same seed on the same key = pathological correlation (documented);
    different seeds behave independently."""
    d = docs.withColumn("source", F.lit("web"))
    sampled = sample_mixture(d, {"web": 0.2}, seed=7)
    same = split_by_hash(sampled, {"train": 0.2, "rest": 0.8}, seed=7)
    assert same.filter("split <> 'train'").count() == 0  # fully correlated
    diff = split_by_hash(sampled, {"train": 0.2, "rest": 0.8}, seed=101)
    frac = diff.filter("split = 'train'").count() / sampled.count()
    assert 0.1 < frac < 0.3


def test_split_validation(docs):
    with pytest.raises(ValueError):
        split_by_hash(docs, {})
    with pytest.raises(ValueError):
        split_by_hash(docs, {"a": 0.7, "b": 0.4})
    with pytest.raises(ValueError):
        split_by_hash(docs, {"a": 0.0})


def test_shuffle_sequences_total_order_and_determinism(spark, docs):
    # AQE would coalesce 2000 rows into one partition; keep the range
    # layout's partitions so the order is checked across their boundaries
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        out = shuffle_sequences(docs, key_col="doc_id")
        rows = out.select("shuffle_key", "doc_id").collect()  # collect keeps
        assert out.select(F.spark_partition_id()).distinct().count() > 1
    finally:
        spark.conf.set(conf, prev)
    keys = [(r["shuffle_key"], r["doc_id"]) for r in rows]  # partition order
    assert keys == sorted(keys)  # globally sorted across partition boundaries
    assert len(keys) == 2000
    # the permutation actually decorrelates: doc_id order is scrambled
    ids = [k for _, k in keys]
    assert ids != sorted(ids)
    # deterministic run-over-run
    again = shuffle_sequences(docs, key_col="doc_id")
    assert [(r[0], r[1]) for r in again.select("shuffle_key", "doc_id").collect()] == keys
    # a different seed is a different permutation
    other = shuffle_sequences(docs, key_col="doc_id", seed=30)
    assert [r["doc_id"] for r in other.select("doc_id").collect()] != ids
    # no affine lattice: consecutive output ids must not walk a handful of
    # fixed strides (the bare affine hash yields ~2 distinct differences)
    diffs = {b - a for a, b in zip(ids, ids[1:])}
    assert len(diffs) > len(ids) // 4


def test_shuffle_key_matches_duckdb_replay(docs):
    from htrc_feature_reader_spark.operators.packing import shuffle_key_sql

    pdf = shuffle_sequences(docs, key_col="doc_id").select(
        "doc_id", "shuffle_key"
    ).toPandas()
    con = duckdb.connect()
    con.register("t", pdf[["doc_id"]])
    odf = con.execute(
        f"SELECT doc_id, {shuffle_key_sql('doc_id', 29)} AS k FROM t"
    ).df()
    merged = pdf.merge(odf, on="doc_id")
    assert (merged["shuffle_key"] == merged["k"]).all()


def test_length_bucket_golden(spark):
    df = spark.createDataFrame(
        [(1, list(range(n))) for n in (0, 5, 10, 99, 100, 250, 512, 513)],
        "doc_id int, tokens array<int>",
    )
    out = length_bucket(df, [10, 100, 512])
    got = {r["tokens"] and len(r["tokens"]) or 0: r["bucket"] for r in out.collect()}
    assert got == {0: 0, 5: 0, 10: 1, 99: 1, 100: 2, 250: 2, 512: 3, 513: 3}
    # len_col path agrees
    out2 = length_bucket(df.withColumn("n", F.size("tokens")), [10, 100, 512], len_col="n")
    assert {len(r["tokens"]): r["bucket"] for r in out2.collect()} == got


def test_length_bucket_validation(spark):
    df = spark.createDataFrame([(1, [1])], "doc_id int, tokens array<int>")
    for bad in ([], [10, 10], [100, 10]):
        with pytest.raises(ValueError):
            length_bucket(df, bad)
