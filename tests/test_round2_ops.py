"""Round-2 operator guards: word-composed shingle hashing (bit-parity with
the per-shingle character hash), stop-shingle capping, banded embedding
near-dup mining (recall + no-cartesian plan), exact integer-microsecond
time arithmetic at threshold boundaries, and tf_idf plan laziness."""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators import hashing
from htrc_feature_reader_spark.operators.dedup import (
    stop_capped_shingle_ids,
    token_shingle_ids,
    word_shingle_ids,
)
from htrc_feature_reader_spark.operators.selection import (
    hashed_ngram_buckets,
    ngram_buckets_sql,
)
from htrc_feature_reader_spark.operators.similarity import (
    near_dup_pairs,
    ndp_component,
    ndp_plane_coeffs,
)
from htrc_feature_reader_spark.operators.text import (
    BPE_ISH_PATTERN,
    tf_idf,
    tokenize,
    tokenize_sql,
)
from htrc_feature_reader_spark.operators.windows import sessionize
from htrc_feature_reader_spark.operators import asof_join


def _formatted(df):
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# ---------------------------------------------------------------- shingles

@pytest.fixture(scope="module")
def shingle_docs(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "x  y z double  space survives"),
        ("c", "two words"),          # shorter than n: no shingles
        ("d", ""),                    # empty doc
        ("e", "unicode héllo wörld test ok fin"),
        ("f", "a b c"),               # exactly n words: one shingle
        ("g", "trailing space here "),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _grams(text, n, drop_empty=False):
    words = [w for w in text.split(" ") if w or not drop_empty]
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]


def _token_ids(text):
    # short words map to negative token ids
    return [len(w) * 37 - 150 for w in text.split(" ")]


def _token_fold(toks, base=257, mod=hashing.MOD):
    h = 0
    for t in toks:
        h = (h * base + t % mod) % mod
    return h


_TOKENS_SQL = "list_transform(string_split(text, ' '), w -> length(w) * 37 - 150)"


def _consumer_ids(name, docs):
    """(engine ids, reference ids, DuckDB replay SQL) of one hash consumer:
    rows are (doc_id, id) for the distinct set consumers and
    (doc_id, position, id) for the positional ones."""
    spark = docs.sparkSession
    texts = [(r["doc_id"], r["text"]) for r in docs.collect()]

    def ref_rows(grams_of, hash_col):
        rows = [(d, i, g) for d, t in texts for i, g in enumerate(grams_of(t))]
        ref = spark.createDataFrame(rows, "doc_id string, pos int, gram string")
        return [tuple(r) for r in ref.select("doc_id", "pos", hash_col).collect()]

    rh = hashing.rolling_hash("gram")
    if name == "word_shingle_ids":
        eng = word_shingle_ids(docs, n=3).collect()
        ref = {(d, h) for d, _, h in ref_rows(lambda t: _grams(t, 3), rh)}
        sql = (f"SELECT DISTINCT doc_id, unnest(list_transform("
               f"{hashing.ngram_strings_sql('l', 3)}, g -> {hashing.rolling_hash_sql('g')})) "
               "FROM (SELECT doc_id, string_split(text, ' ') AS l FROM docs)")
        return set(map(tuple, eng)), ref, sql, set
    if name == "word_shingle_ids_dual":
        staged = hashing.stage_word_hashes(docs, "text", "doc_id", dual=True)
        eng = staged.select("id", F.posexplode(hashing.compose_ngrams(3, dual=True))).collect()
        dual = rh * F.lit(1 << 31) + hashing.rolling_hash("gram", base=hashing.BASE2)
        ref = ref_rows(lambda t: _grams(t, 3), dual)
        sql = (f"SELECT doc_id, i - 1, {hashing.dual_hash_sql('g')} FROM (SELECT doc_id, "
               f"unnest({hashing.ngram_strings_sql('l', 3)}) AS g, "
               f"generate_subscripts({hashing.ngram_strings_sql('l', 3)}, 1) AS i "
               "FROM (SELECT doc_id, string_split(text, ' ') AS l FROM docs))")
        return sorted(map(tuple, eng)), sorted(ref), sql, sorted
    if name in ("hashed_ngram_buckets_1", "hashed_ngram_buckets_2"):
        n = int(name[-1])
        eng = hashed_ngram_buckets(docs, n_buckets=hashing.MOD, ngrams=(n,)).collect()
        ref = [(d, h) for d, _, h in ref_rows(lambda t: _grams(t, n, drop_empty=True), rh)]
        sql = (f"SELECT doc_id, unnest({ngram_buckets_sql(n_buckets=hashing.MOD, ngrams=(n,))}) "
               "FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS l "
               "FROM docs)")
        return sorted(map(tuple, eng)), sorted(ref), sql, sorted
    if name == "token_shingle_ids":
        toks = docs.select(
            "doc_id",
            F.transform(F.split("text", " "), lambda w: F.length(w) * 37 - 150).alias("tokens"),
        )
        eng = token_shingle_ids(toks, n=3).collect()
        ref = {(d, _token_fold(tk[i:i + 3]))
               for d, t in texts for tk in [_token_ids(t)] for i in range(len(tk) - 2)}
        sql = (f"SELECT DISTINCT doc_id, unnest({hashing.token_window_ids_sql('tokens', 3)}) "
               f"FROM (SELECT doc_id, {_TOKENS_SQL} AS tokens FROM docs)")
        return set(map(tuple, eng)), ref, sql, set
    assert name == "tokenize_hash"
    eng = tokenize(docs).select("doc_id", F.posexplode("tokens")).collect()
    ref = ref_rows(lambda t: re.findall(BPE_ISH_PATTERN, t), rh)
    sql = (f"SELECT doc_id, i - 1, t FROM (SELECT doc_id, unnest(toks) AS t, "
           "generate_subscripts(toks, 1) AS i "
           f"FROM (SELECT doc_id, {tokenize_sql('text')} AS toks FROM docs))")
    return sorted(map(tuple, eng)), sorted(ref), sql, sorted


@pytest.mark.parametrize("consumer", [
    "word_shingle_ids", "word_shingle_ids_dual", "hashed_ngram_buckets_1",
    "hashed_ngram_buckets_2", "token_shingle_ids", "tokenize_hash",
])
def test_word_shingle_ids_bit_parity(shingle_docs, consumer):
    """Every consumer of the hash kernel equals the character hash of its
    gram string (the direct fold, for int tokens) and its DuckDB replay,
    including unicode, double spaces, trailing spaces and short docs."""
    import duckdb

    eng, ref, sql, shape = _consumer_ids(consumer, shingle_docs)
    con = duckdb.connect()
    con.register("docs", shingle_docs.toPandas())
    replay = shape(tuple(r) for r in con.execute(sql).fetchall())
    assert eng == ref
    assert replay == ref
    assert len(ref) > 0


def _shingle_rows(df):
    return sorted((r["id"], r["shingle_id"]) for r in df.collect())


def test_stop_capped_shingle_ids_drops_hot_shingle(spark):
    # 'viral' appears in 4 of 5 docs (> 50%), 'rare' and 'rare2' in 1 each
    docs = spark.createDataFrame(
        [("d0", "viral rare2"), ("d1", "viral"), ("d2", "viral"),
         ("d3", "viral"), ("d4", "rare")],
        "doc_id string, text string",
    )
    everything = _shingle_rows(word_shingle_ids(docs, n=1))
    viral = word_shingle_ids(docs.filter("doc_id = 'd1'"), n=1).first()["shingle_id"]
    kept = _shingle_rows(stop_capped_shingle_ids(docs, n=1))
    assert kept == [r for r in everything if r[1] != viral]
    assert [r[0] for r in kept] == ["d0", "d4"]
    # 1.0 runs the stage but drops nothing; None skips it
    assert _shingle_rows(stop_capped_shingle_ids(docs, n=1, max_df_frac=1.0)) == everything
    assert _shingle_rows(stop_capped_shingle_ids(docs, n=1, max_df_frac=None)) == everything


def test_stop_capped_shingle_ids_counts_rows_as_documents(spark):
    """df and N both count input rows: a doc_id spanning two rows is two
    documents for the cap. The two rows with id 1 share the shingle
    "a b c"; the short row yields no shingle and is not counted in N."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (1, "a b c"), (2, "d e f"), (3, "g h i"), (4, "a b")],
        "doc_id long, text string",
    )
    abc = word_shingle_ids(docs.filter("doc_id = 1"), n=3).first()["shingle_id"]

    def kept_abc(frac):
        out = stop_capped_shingle_ids(docs, n=3, max_df_frac=frac)
        return [r for r in _shingle_rows(out) if r[1] == abc]

    # df(abc) = 2 rows, N = 4 rows: 2 > 0.4 * 4 drops it (with df counted
    # as distinct ids it would be 1, and kept)
    assert kept_abc(0.4) == []
    # 2 > 0.5 * 4 is false: kept (with N counted as distinct ids, 3, it
    # would be 2 > 1.5 and dropped); both rows survive
    assert kept_abc(0.5) == [(1, abc), (1, abc)]


# ---------------------------------------------------------- near-dup pairs

@pytest.fixture(scope="module")
def planted_vectors(spark):
    """60 unit-ish vectors plus a perturbed near-dup of each (cos ~ 0.95)."""
    base = spark.range(60).select(
        F.col("id").cast("long").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: ndp_component(97, 31, i + F.col("id") * 101),
        ).alias("embedding"),
    )
    na, nb = ndp_plane_coeffs(1, 1, seed=5)[0]
    noise = F.transform(
        F.sequence(F.lit(0), F.size("embedding") - 1),
        lambda i: ndp_component(na, nb, i + F.col("vec_id") * 4099),
    )
    pert = base.select(
        "vec_id",
        F.zip_with("embedding", noise, lambda x, c: x + F.lit(0.12) * c).alias("embedding"),
    ).select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    return base.unionByName(pert).cache()


def test_near_dup_recall_vs_exact(planted_vectors):
    exact = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(planted_vectors, threshold=0.9, exact=True).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(
            planted_vectors, threshold=0.9, n_tables=8, band_bits=4
        ).collect()
    }
    assert len(exact) >= 50  # the planted pairs are really there
    assert approx <= exact   # no false positives (exact cosine re-check)
    recall = len(approx) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f}"


def test_near_dup_plan_no_cartesian(planted_vectors):
    plan = _formatted(near_dup_pairs(planted_vectors, threshold=0.9, n_tables=2, band_bits=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for op in ("BatchEvalPython", "ArrowEvalPython"):
        assert op not in plan
    # the exact baseline IS the cartesian product (sanity: flag works)
    plan_exact = _formatted(near_dup_pairs(planted_vectors, threshold=0.9, exact=True))
    assert "CartesianProduct" in plan_exact or "BroadcastNestedLoopJoin" in plan_exact
    # plane coefficients are data: the 64 planes of an 8x8 banding share
    # one component expression (its 2000001 literal), printed once under
    # each side of the signature self-join, instead of one per plane
    local = planted_vectors.sparkSession.createDataFrame(
        planted_vectors.collect(), planted_vectors.schema
    )
    banded = near_dup_pairs(local, threshold=0.9, n_tables=8, band_bits=8)
    assert banded._jdf.queryExecution().analyzed().toString().count("2000001") == 2


# ------------------------------------------------------ integer-time edges

def _ts(s_offset_us):
    base = dt.datetime(2024, 3, 10, 0, 0, 0)
    return base + dt.timedelta(microseconds=s_offset_us)


def test_session_gap_exact_threshold_stays_in_session(spark):
    gap_s = 1800.0
    rows = [
        ("u", _ts(0)),
        ("u", _ts(1_800_000_000)),      # gap == threshold: same session
        ("u", _ts(3_600_000_001)),      # gap == threshold + 1us: new session
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = sessionize(df, key="user_id", ts="ts", gap_s=gap_s).orderBy("ts").collect()
    assert [r["session_id"] for r in out] == [1, 1, 2]


def test_asof_tolerance_exact_boundary_in_tolerance(spark):
    probe = spark.createDataFrame(
        [("k", _ts(10_000_000))], "key string, ts timestamp"
    )
    build = spark.createDataFrame(
        [("k", _ts(5_000_000), 1.0)], "key string, ts timestamp, v double"
    )
    # delta is exactly 5.0s: must match at tolerance 5.0, not at 4.999999
    hit = asof_join(probe, build, on="key", ts="ts", tolerance_s=5.0).collect()
    assert hit[0]["v"] == 1.0
    miss = asof_join(probe, build, on="key", ts="ts", tolerance_s=4.999999).collect()
    assert miss[0]["v"] is None


# ------------------------------------------------------------ tf_idf lazy

def test_tf_idf_construction_runs_no_job(spark, tokenlist_df):
    sc = spark.sparkContext
    group = "tfidf-lazy-probe"
    sc.setJobGroup(group, "tf_idf must not run jobs at plan construction")
    try:
        out = tf_idf(
            tokenlist_df.groupBy("htid", "token").agg(F.count(F.lit(1)).alias("count")),
            doc_col="htid", token_col="token", count_col="count",
        )
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup(group), \
        "tf_idf triggered a Spark job during plan construction"
    # and the plan still computes correct idf (N rides along as broadcast agg)
    assert out.first()["idf"] > 0


def test_session_timezone_pinned_utc(spark):
    """ts_micros reinterprets TIMESTAMP_NTZ (pandas-written parquet) in the
    session timezone; the integer-microsecond arithmetic is only DST-safe
    because get_spark pins UTC — guard the pin."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_simhash_candidate_pairs_exact_recall(spark):
    """Pigeonhole: every pair within hamming <= n_bands-1 shares a band,
    so recall vs the brute-force pair set is exact."""
    from htrc_feature_reader_spark.operators.dedup import (
        hamming_distance,
        simhash_candidate_pairs,
    )

    sigs = spark.createDataFrame(
        [(i, h) for i, h in enumerate(
            [0b1010101010101010, 0b1010101010101011,  # hamming 1
             0b1010101010101110, 0b0101010101010101,  # h(0,2)=1; 4th far
             0b1111000011110000]
        )],
        "id long, simhash long",
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_candidate_pairs(sigs).collect()}
    # brute force oracle
    a = sigs.selectExpr("id as id_a", "simhash as sa")
    brute = {
        (r["id_a"], r["id_b"]): r["h"]
        for r in a.crossJoin(sigs.selectExpr("id as id_b", "simhash as sb"))
        .filter("id_a < id_b")
        .selectExpr("id_a", "id_b", "bit_count(sa ^ sb) as h")
        .filter("h <= 3").collect()
    }
    assert got == brute and len(brute) >= 2


def test_simhash_defaults_are_corpus_scale(spark):
    """Defaults follow the documented sizing rule (bits=48, 4 bands of
    width 12) — the 16-bit configs live only in oracle-scale tests. A
    single-token doc's fingerprint equals its mixed hash masked to 48
    bits, proving the default width end-to-end."""
    from htrc_feature_reader_spark.operators.dedup import simhash

    seed, token_id = 42, 123_456_789
    A = 2 * ((seed * 2_654_435_761) % (1 << 30)) + 1
    B = seed * 97 + 13
    mixed = (token_id * A + B) % (1 << 62)
    dt = spark.createDataFrame(
        [(1, token_id, 1)], "id long, token_id long, weight long"
    )
    [row] = simhash(dt).collect()
    assert row["simhash"] == mixed & ((1 << 48) - 1)
    assert row["simhash"] >= (1 << 32)  # genuinely wider than 32 bits


def test_simhash_wide_fingerprint_pairs(spark):
    """bits=48 (corpus-scale band width 12): a planted hamming-2 pair is
    found; fingerprints differing in every band are never candidates."""
    from htrc_feature_reader_spark.operators.dedup import simhash_candidate_pairs

    base = 0x2E5F13A9C4D7  # arbitrary 48-bit fingerprint
    sigs = spark.createDataFrame(
        [(1, base),
         (2, base ^ (1 << 3) ^ (1 << 40)),     # hamming 2 -> must pair
         (3, base ^ 0xFFFFFFFFFFFF)],          # every 12-bit band differs
        "id long, simhash long",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_candidate_pairs(sigs, bits=48, n_bands=4).collect()}
    assert pairs.get((1, 2)) == 2
    assert (1, 3) not in pairs and (2, 3) not in pairs
