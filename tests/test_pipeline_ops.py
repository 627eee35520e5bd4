"""Training-data pipeline operators: dedup family, similarity search,
text analysis."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    hamming_distance,
    word_shingle_ids,
)
from htrc_feature_reader_spark.operators.ivf import ivf_topk
from htrc_feature_reader_spark.operators.similarity import (
    cosine_topk,
    near_dup_pairs,
)
from htrc_feature_reader_spark.operators.text import lang_id, quality_features


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "spark engines process completely different content"),
        (6, "entirely unrelated musings on pottery and glaze"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(docs):
    out = {r["keep_id"]: r["n_dups"] for r in exact_duplicates(docs).collect()}
    assert out[1] == 2  # docs 1 and 2 collapse
    assert out[3] == 1
    assert len(out) == 5


def _hashed_shingles(docs, n):
    return word_shingle_ids(docs, n=n).withColumnRenamed("shingle_id", "shingle")


def test_jaccard_pairs(docs):
    sh = _hashed_shingles(docs, n=3)
    pairs = {(r["id_a"], r["id_b"]): r["jacc"] for r in jaccard_pairs(sh, 0.2).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert (1, 6) not in pairs


def test_minhash_lsh_finds_near_dups(docs):
    sigs = minhash_signatures(word_shingle_ids(docs, n=3), n_hashes=8)
    # identical docs have identical signatures
    by_id = {r["id"]: r["sig"] for r in sigs.collect()}
    assert by_id[1] == by_id[2]
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs
    assert (1, 6) not in pairs


def test_minhash_estimates_jaccard(spark):
    """Property: with many hashes, signature agreement approximates the true
    Jaccard of the shingle sets."""
    rows = [(1, " ".join(f"w{i}" for i in range(50))),
            (2, " ".join(f"w{i}" for i in range(25, 75)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    true_j = jaccard_pairs(_hashed_shingles(docs, n=1), 0.0).first()["jacc"]
    ds = word_shingle_ids(docs, n=1)
    sigs = {r["id"]: r["sig"] for r in minhash_signatures(ds, n_hashes=64).collect()}
    est = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 64
    assert abs(est - true_j) < 0.2


def test_simhash_near_dups_close(docs):
    toks = (
        docs.select(F.col("doc_id").alias("id"), F.explode(F.split("text", " ")).alias("t"))
        .groupBy("id", "t").agg(F.count(F.lit(1)).alias("weight"))
    )
    from pyspark.sql.window import Window
    tok_ids = toks.select("t").distinct().select(
        "t", (F.dense_rank().over(Window.orderBy("t")) - 1).alias("token_id")
    )
    dt = toks.join(tok_ids, on="t").select("id", "token_id", "weight")
    fps = {r["id"]: r["simhash"] for r in simhash(dt, bits=32).collect()}
    assert fps[1] == fps[2]

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(fps[1], fps[3]) < ham(fps[1], fps[6])


def test_hamming_distance_column(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], "a long, b long")
    assert df.select(hamming_distance(F.col("a"), F.col("b"))).first()[0] == 2


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(5)
    base = rng.randn(20, 16).astype("float32")
    base[1] = base[0] + 0.01 * rng.randn(16).astype("float32")  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_exact(vectors):
    q = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = cosine_topk(q, vectors, k=3).collect()
    assert [r["vec_id"] for r in out][:2] == [0, 1]  # self then near-dup
    assert math.isclose(out[0]["cos"], 1.0, abs_tol=1e-6)
    # brute force against numpy
    pdf = vectors.toPandas()
    m = np.stack(pdf["embedding"].map(np.asarray))
    sims = (m @ m[0]) / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[0]))
    top = set(pdf["vec_id"][np.argsort(-sims)[:3]])
    assert {r["vec_id"] for r in out} == top


_DEGENERATE_SHAPES = {
    "near_dup_banded": lambda emb, q: near_dup_pairs(emb, threshold=0.9),
    "near_dup_exact": lambda emb, q: near_dup_pairs(emb, threshold=0.9, exact=True),
    "cosine_topk": lambda emb, q: cosine_topk(q, emb, k=3),
    "ivf_topk": lambda emb, q: ivf_topk(
        emb.withColumn("__bucket", F.lit(0)), [(0, [1.0, 0.0])], q, k=3, nprobe=1
    ),
}


@pytest.mark.parametrize("shape", list(_DEGENERATE_SHAPES))
def test_zero_norm_vectors_never_scored(spark, shape):
    """A vector without a positive norm (all zeros, empty) has no
    direction: it is never a pair or a neighbour, and scoring it must not
    abort the job with DIVIDE_BY_ZERO under ANSI mode."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 0.0]), (4, [0.0, 0.0]), (5, [])],
        "vec_id long, embedding array<float>",
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    rows = _DEGENERATE_SHAPES[shape](emb, q).collect()
    got = {(r[0], r[1]) for r in rows}
    if shape.startswith("near_dup"):
        assert got == {(1, 2)}
    else:
        assert got == {(1, 1), (1, 2), (2, 1), (2, 2)}
    assert all(math.isclose(r[2], 1.0, abs_tol=1e-6) for r in rows)


def test_lang_id(spark):
    rows = [
        (1, "the cat sat on the mat and that is that"),
        (2, "le chat est sur la table et vous avez les livres"),
        (3, "der hund ist nicht mit der katze und sie"),
        (4, "el perro es que los gatos con usted para"),
        (5, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["lang"] for r in df.select("id", lang_id("text").alias("lang")).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "es", 5: "und"}


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "Hello world! 123 ok ok")], "id long, text string")
    r = quality_features(df).first()
    assert r["n_tokens"] == 5
    assert r["n_chars"] == 22
    assert r["distinct_ratio"] == 4 / 5
    assert r["digit_ratio"] == 3 / 22
    assert r["upper_ratio"] == 1 / 22


class TestDecontaminate:
    def _docs(self, spark):
        from pyspark.sql import functions as F
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),          # overlaps eval
            (2, "one two three four five six seven"),            # clean
            (3, "x alpha beta gamma delta epsilon y"),           # overlaps (5-gram)
            (4, "short doc"),                                    # < n words
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_flags_and_drops(self, spark):
        from htrc_feature_reader_spark.operators import decontaminate
        docs = self._docs(spark)
        ev = spark.createDataFrame(
            [("alpha beta gamma delta epsilon",)], "text string")
        flagged = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(docs, ev, n=5, return_flags=True).collect()
        }
        assert flagged == {1: True, 2: False, 3: True, 4: False}
        clean = sorted(r["doc_id"] for r in decontaminate(docs, ev, n=5).collect())
        assert clean == [2, 4]

    def test_short_docs_never_flagged(self, spark):
        from htrc_feature_reader_spark.operators import decontaminate
        docs = self._docs(spark)
        ev = spark.createDataFrame([("short doc",)], "text string")
        # both sides < n words -> no shingles -> nothing flagged
        out = decontaminate(docs, ev, n=13, return_flags=True)
        assert not any(r["contaminated"] for r in out.collect())

    def test_validation_and_flag_col(self, spark):
        from htrc_feature_reader_spark.operators import decontaminate
        docs = self._docs(spark)
        ev = spark.createDataFrame([("alpha beta gamma delta epsilon",)],
                                   "text string")
        with pytest.raises(ValueError):
            decontaminate(docs, ev, n=0)
        # chaining two flag runs needs distinct flag columns, not a crash
        once = decontaminate(docs, ev, n=5, return_flags=True)
        with pytest.raises(ValueError):
            decontaminate(once, ev, n=5, return_flags=True)
        twice = decontaminate(once, ev, n=6, return_flags=True,
                              flag_col="contaminated6")
        r = {x["doc_id"]: (x["contaminated"], x["contaminated6"])
             for x in twice.collect()}
        assert r[1] == (True, False) and r[2] == (False, False)
