"""TF-IDF operator and text-cleaning helpers."""

import math

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.text import tf_idf


def test_tf_idf_values(spark):
    rows = [
        ("d1", "x", 2), ("d1", "y", 2),   # d1: 4 tokens
        ("d2", "x", 1), ("d2", "z", 3),   # d2: 4 tokens
        (None, "x", 5),                   # no document: counts toward neither df nor N
    ]
    tl = spark.createDataFrame(rows, "htid string, token string, count long")
    out = {(r["htid"], r["token"]): r for r in tf_idf(tl).collect()}
    assert {h for h, _ in out} == {"d1", "d2"}
    # tf
    assert out[("d1", "x")]["tf"] == 0.5
    assert out[("d2", "z")]["tf"] == 0.75
    # df and smoothed idf with N=2
    assert out[("d1", "x")]["df"] == 2
    assert abs(out[("d1", "x")]["idf"] - (math.log(3 / 3) + 1)) < 1e-12
    assert abs(out[("d1", "y")]["idf"] - (math.log(3 / 2) + 1)) < 1e-12
    # shared token scores below unique token at equal tf
    assert out[("d1", "x")]["tf_idf"] < out[("d1", "y")]["tf_idf"]


def test_remove_duplicate_lines(spark):
    from htrc_feature_reader_spark.operators.text import remove_duplicate_lines

    boiler = "ACCEPT COOKIES"
    rows = [
        (1, f"{boiler}\nunique one\nalso unique"),
        (2, f"{boiler}\nsecond doc text"),
        (3, f"{boiler}\nthird doc text\n{boiler}"),  # twice in one doc
        (4, boiler),                                  # all-boilerplate doc
        (5, "no chrome here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_deduped"]
           for r in remove_duplicate_lines(docs, min_df=3).collect()}
    assert out[1] == "unique one\nalso unique"
    assert out[2] == "second doc text"
    assert out[3] == "third doc text"      # BOTH occurrences removed
    assert out[4] == ""                    # row-preserving, empty result
    assert out[5] == "no chrome here"
    # df counts DISTINCT docs: a line twice in one doc is df=1, kept
    rows2 = [(1, "twice\ntwice"), (2, "x"), (3, "y")]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {r["doc_id"]: r["text_deduped"]
            for r in remove_duplicate_lines(docs2, min_df=2).collect()}
    assert out2[1] == "twice\ntwice"


def test_lang_id_broadened_markers(spark):
    from htrc_feature_reader_spark.operators.text import detect_language, lang_id

    rows = [
        (1, "il problema che questo sono di per della"),
        (2, "você não são uma das também mais aqui"),
        (3, "het een niet voor aan ook zijn hier"),
        (4, "och att det som för inte är med"),
        (5, "nie się jest czy dla tego jak przez"),
        (6, "и в не на что это как вы"),
        (7, "the cat and the dog with you"),
        (8, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["lang"]
           for r in df.select("id", lang_id("text").alias("lang")).collect()}
    assert out == {1: "it", 2: "pt", 3: "nl", 4: "sv", 5: "pl",
                   6: "ru", 7: "en", 8: "und"}

    detected = detect_language(df)
    assert detected.columns == ["id", "text", "lang"]
    assert {r["id"]: r["lang"] for r in detected.collect()} == out
    with pytest.raises(ValueError, match="already exists"):
        detect_language(detected)


def test_tokenize_hash_counts_and_duckdb_parity(spark):
    """tokenize ids are bit-identical to the DuckDB replay (tokenize_sql),
    size(tokens) == bpe_ish_token_count, vocab_size folds ids into range,
    and an existing output column is never overwritten."""
    import duckdb

    from htrc_feature_reader_spark.operators.text import (
        bpe_ish_token_count, tokenize, tokenize_sql)

    texts = ["Hello, world! 42 times.", "a", "", "ünïcode + math == fun",
             "  spaced   out  "]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    out = tokenize(docs, vocab_size=1000).select(
        "doc_id", "tokens", bpe_ish_token_count("text").alias("n"))
    rows = out.collect()
    assert all(len(r["tokens"]) == r["n"] for r in rows)
    assert all(0 <= t < 1000 for r in rows for t in r["tokens"])
    con = duckdb.connect()
    con.register("d", docs.toPandas())
    oracle = dict(con.execute(
        f"select doc_id, {tokenize_sql('text', vocab_size=1000)} from d"
    ).fetchall())
    assert {r["doc_id"]: list(r["tokens"]) for r in rows} == \
        {k: list(v) for k, v in oracle.items()}
    with pytest.raises(ValueError, match="already exists"):
        tokenize(docs.withColumn("tokens", F.lit(1)))


def test_repetition_features_reference_values(spark):
    """Hand-computed Gopher repetition signals, including the empty-doc,
    single-word, and tie-break edges."""
    from htrc_feature_reader_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [
            (0, "a b\na b\nc d"),       # 1 dup line of 3 chars x2 / 9 line chars
            (1, "x y x y x y"),          # top 2-gram "x y" 3x? (runs: "x y","y x")
            (2, ""),
            (3, "one"),
            (4, "s\ns\ns"),              # all lines dup
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert got[0]["dup_line_frac"] == pytest.approx(1 / 3)
    assert got[0]["dup_line_char_frac"] == pytest.approx(6 / 9)
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["dup_line_char_frac"] == 0.0
    assert got[2]["top_ngram_char_frac"] == 0.0
    assert got[3]["top_ngram_char_frac"] == 0.0  # no 2-gram from one word
    assert got[4]["dup_line_frac"] == pytest.approx(2 / 3)
    assert got[4]["dup_line_char_frac"] == pytest.approx(1.0)
    # "x y x y x y": grams x_y x3, y_x x2 -> top = 3*3/11
    assert got[1]["top_ngram_char_frac"] == pytest.approx(9 / 11)


def test_take_per_source_exact_stratified(spark):
    """Deterministic n-per-source carve: exact counts, stable under
    repartitioning, same rows from the SQL replay of the hash order."""
    from htrc_feature_reader_spark.operators.packing import (
        key_hash_sql, take_per_source)

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(300)], "doc_id long, source string")
    got = take_per_source(df, 5, seed=9)
    rows = got.groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in rows} == {
        "src0": 5, "src1": 5, "src2": 5}
    a = sorted((r["source"], r["doc_id"]) for r in got.collect())
    b = sorted((r["source"], r["doc_id"])
               for r in take_per_source(df.repartition(13), 5, seed=9).collect())
    assert a == b
    # SQL replay (Spark SQL works for the integral-key hash too)
    df.createOrReplaceTempView("tps")
    h = key_hash_sql("doc_id", 9)
    c = sorted((r["source"], r["doc_id"]) for r in spark.sql(f"""
        select source, doc_id from (
          select *, row_number() over (
            partition by source order by {h} asc, doc_id asc) as rk
          from tps) where rk <= 5""").collect())
    assert a == c
    # a stratum smaller than n yields the whole stratum
    small = spark.createDataFrame([(1, "s"), (2, "s")], "doc_id long, source string")
    assert take_per_source(small, 5).count() == 2
