"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
(or a north-rule / training-data extension) over the driver's parquet
tables; ``oracle_sql()`` holds the equivalent DuckDB SQL. Column names and
types are aligned on both sides; float outputs are either pass-through
(bit-identical) or derived from exact integer/decimal arithmetic so the
order-insensitive value hash matches deterministically.

The documents-derived token table stands in for the reference's tokenlist
fact table: tokens = text split on spaces, page = 1 + position // 40 —
both engines derive it identically, so the fold-family queries are checked
cell-for-cell.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from htrc_feature_reader_spark.functions import ts_seconds
from htrc_feature_reader_spark.operators import (
    asof_join,
    build_pit_features,
    cosine_topk,
    distinct_tokens,
    exact_duplicates,
    fold_tokenlist,
    forward_fill,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    sessionize,
    simhash,
    stop_capped_shingle_ids,
    term_page_freqs,
    tokens_per_page,
)
from htrc_feature_reader_spark.operators.hashing import (
    affine_coeffs,
    affine_hash_sql,
    dual_hash_sql,
    ngram_strings_sql,
    rolling_hash_sql,
    simhash_coeffs,
    token_window_ids_sql,
)
from htrc_feature_reader_spark.operators.text import BPE_ISH_PATTERN, quality_features

# ---------------------------------------------------------------------------
# helpers

PAGE_SIZE = 40  # tokens per synthetic "page" of a document

# Read schema of every driver table, exactly as Spark infers it from the
# parquet footers (pandas-written timestamps read as timestamp_ntz; every
# field nullable). Declaring it spares each read a footer-inference job.
_SCHEMAS = {
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
              "value double, props string",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
                "c_mktsegment string",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
                "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, "
            "p_retailprice double",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Driver table ``name`` under ``sf_dir``, read with its declared schema."""
    if name not in _SCHEMAS:
        raise ValueError(f"undeclared driver table {name!r}: add its schema to _SCHEMAS")
    return spark.read.schema(_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> long token-occurrence table (doc_id, page, token, count=1).

    The engine's tokenlist-shaped fact table (SURVEY.md §1.1) derived
    identically on the DuckDB side (see _SQL_TOKENS)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    ).select(
        "doc_id",
        (F.floor(F.col("pos") / PAGE_SIZE) + 1).alias("page"),
        "token",
        F.lit(1).cast("long").alias("count"),
    )


_SQL_TOKENS = f"""
  SELECT doc_id,
         CAST(((ord - 1) // {PAGE_SIZE}) + 1 AS BIGINT) AS page,
         tok AS token
  FROM (SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS ord
        FROM documents)
"""

# deterministic MinHash / SimHash constants (must match
# operators/dedup.py:minhash_signatures / simhash with seed=42)
_MH_SEED = 42
_MH_N = 8
# per-doc MinHash columns h0..h7 over shingle ids ``sid``
_SQL_MH_HASHES = ", ".join(
    f"min({affine_hash_sql('sid', a, b)}) AS h{i}"
    for i, (a, b) in enumerate(affine_coeffs(_MH_N, _MH_SEED))
)
# LSH collision of docs a and b: equal in any of 4 bands of 2 rows
_SQL_MH_BANDS = " OR ".join(
    f"(a.h{2*b} = b.h{2*b} AND a.h{2*b+1} = b.h{2*b+1})" for b in range(4)
)
_SH_BITS = 16
_SH_PAIR_BANDS = 4
_SH_A, _SH_B = simhash_coeffs(_MH_SEED)

# one oracle for all three as-of variants (asof_purchase_view, asof_salted,
# asof_auto_salt) — they must agree cell-for-cell by construction
_ASOF_PURCHASE_SQL = """
  SELECT p.event_id, p.user_id, p.ts, v.view_value
  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
  ASOF LEFT JOIN
       (SELECT user_id, ts, value AS view_value FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""

# shared by ann_cosine_topk (brute) and ivf_topk (full-probe IVF == brute)
_ANN_TOPK_SQL = """
  WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
              sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 5 AND q.vec_id != c.vec_id)
  SELECT query_id, neighbor_id, round(cos, 4) AS cos4 FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY round(cos, 6) DESC, neighbor_id) AS rnk
    FROM scored)
  WHERE rnk <= 5
"""

_SQL_SHINGLES = f"""
  SELECT DISTINCT doc_id, unnest({ngram_strings_sql('l', 3)}) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
"""

# sequences derived deterministically from events (north-rule input shape;
# same arithmetic on both engines — exact int64)
_SEQ_MULT = 2_654_435_761
_SEQ_STEP = 40_503
_SEQ_VOCAB = 50_000

_SQL_SEQUENCES = f"""
  SELECT CAST(user_id % 50 AS BIGINT) AS doc_key,
         ts,
         event_id,
         CAST(1 + event_id % 32 AS BIGINT) AS n_tok,
         CAST(list_sum(list_transform(range(0, 1 + event_id % 32),
              i -> (event_id * {_SEQ_MULT} + i * {_SEQ_STEP}) % {_SEQ_VOCAB})) AS BIGINT) AS sum_tok,
         event_type AS source
  FROM events
"""


def _sequences_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    n_tok = (F.lit(1) + F.pmod(F.col("event_id"), F.lit(32))).cast("long")
    tokens = F.transform(
        F.sequence(F.lit(0).cast("long"), n_tok - 1),
        lambda i: F.pmod(
            F.col("event_id") * F.lit(_SEQ_MULT) + i * F.lit(_SEQ_STEP),
            F.lit(_SEQ_VOCAB),
        ),
    )
    return ev.select(
        F.pmod(F.col("user_id"), F.lit(50)).cast("long").alias("doc_key"),
        "ts",
        "event_id",
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.col("event_type").alias("source"),
    )


def _pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = _sequences_from_events(spark, sf_dir)
    # attach_payload=False: these queries output scalar features only, and
    # the join-back would force the token arrays to be computed twice
    # (Spark has no cross-branch common-subplan reuse)
    return build_pit_features(
        seqs, doc_col="doc_key", ts_col="ts", session_gap_s=3600.0,
        tiebreak=["event_id"], attach_payload=False,
    )


def _dec(col, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# A. tokenlist fold family (reference operators A1-A8, F1-F6, R1, W2)


def q_tokenlist_fold(spark, sf_dir):
    """A1: fold to (doc, page, token) counts."""
    tl = _doc_tokens(spark, sf_dir)
    out = fold_tokenlist(tl, pages=True, section="group", case=True, pos=False,
                         doc_col="doc_id")
    return out.select("doc_id", "page", "token", F.col("count").alias("cnt"))


def q_tokenlist_volume(spark, sf_dir):
    """A1 pages=False: per-document token counts."""
    tl = _doc_tokens(spark, sf_dir)
    out = fold_tokenlist(tl, pages=False, section="group", case=True, pos=False,
                         doc_col="doc_id")
    return out.select("doc_id", "token", F.col("count").alias("cnt"))


def q_tokenlist_corpus(spark, sf_dir):
    """A1+A3: corpus-wide case-folded token counts."""
    tl = _doc_tokens(spark, sf_dir)
    out = fold_tokenlist(tl, pages=False, section="group", case=False, pos=False,
                         doc_col=None)
    return out.select("lowercase", F.col("count").alias("cnt"))


def q_page_freq(spark, sf_dir):
    """A2 pages=False: #distinct pages containing each token, per doc."""
    tl = _doc_tokens(spark, sf_dir)
    out = fold_tokenlist(tl, pages=False, section="group", case=True, pos=False,
                         page_freq=True, doc_col="doc_id")
    return out.select("doc_id", "token", F.col("count").alias("n_pages"))


def q_term_doc_freqs(spark, sf_dir):
    """A7 analog corpus-wide: #documents containing each token."""
    tl = _doc_tokens(spark, sf_dir)
    return tl.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )


def q_tokens_min_count(spark, sf_dir):
    """A8+F5: distinct tokens with per-doc count >= 5."""
    tl = _doc_tokens(spark, sf_dir)
    return distinct_tokens(tl, case=True, min_count=5, doc_col="doc_id")


def q_min_count_window(spark, sf_dir):
    """W2 (the reference's literal groupwise-transform formulation of
    min_count): window sum over (doc, token) broadcast back to rows,
    filtered, then reduced to the row count per (doc, token) — same keep
    set as tokens_min_count but through the window plan."""
    from htrc_feature_reader_spark.operators.tokenlist import min_count_window

    tl = _doc_tokens(spark, sf_dir)
    kept = min_count_window(tl, min_count=5, case=True, doc_col="doc_id")
    return kept.groupBy("doc_id", "token").agg(
        F.sum("count").alias("total")
    )


def q_tokens_per_page(spark, sf_dir):
    """A6: per-page token totals."""
    tl = _doc_tokens(spark, sf_dir)
    return tokens_per_page(tl, doc_col="doc_id").select(
        "doc_id", "page", F.col("count").alias("cnt")
    )


def q_term_page_pivot(spark, sf_dir):
    """R1: page x token wide matrix for a pinned vocabulary."""
    tl = _doc_tokens(spark, sf_dir)
    out = term_page_freqs(tl, page_freq=False, case=True, doc_col="doc_id",
                          token_values=["table", "value", "scan"])
    return out.select(
        "doc_id", "page",
        F.col("table").cast("long").alias("n_table"),
        F.col("value").cast("long").alias("n_value"),
        F.col("scan").cast("long").alias("n_scan"),
    )


def q_line_chars(spark, sf_dir):
    """S3/A4 analog: first/last character counts per doc and place."""
    tl = _doc_tokens(spark, sf_dir)
    begin = tl.select("doc_id", F.lit("begin").alias("place"),
                      F.substring("token", 1, 1).alias("char"))
    end = tl.select("doc_id", F.lit("end").alias("place"),
                    F.substring(F.col("token"), -1, 1).alias("char"))
    return (
        begin.unionByName(end)
        .groupBy("doc_id", "place", "char")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# B. relational core (joins/aggs/sort/limit over the TPC-H-ish tables)


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: big scan + 2-key hash agg (decimal-exact sums)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + top-10."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q_nation_revenue(spark, sf_dir):
    """TPC-H Q5 shape: snowflake join (region-nation-customer-orders-lineitem)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_top_parts_per_brand(spark, sf_dir):
    """Top-3 parts by revenue per brand (window top-k, O2 analog)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), "p_partkey")
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "revenue", F.col("rnk").cast("long").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# C. temporal layer over events (north-rule operators)


def q_asof_purchase_view(spark, sf_dir):
    """As-of join: latest prior 'view' value onto each 'purchase'."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    build = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    return asof_join(probe, build, on="user_id", ts="ts")


def q_asof_salted(spark, sf_dir):
    """Same semantics again under skew salting (salt=8 replicates the
    build timeline across salt buckets — never splits it, so results are
    identical to unsalted by construction; this query proves it under the
    driver's hash)."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    build = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    return asof_join(probe, build, on="user_id", ts="ts", salt=8)


def q_asof_auto_salt(spark, sf_dir):
    """Same semantics under LAZY per-key salting (salt='auto',
    operators/asof.py:_salted) — key row counts ride along as an in-plan
    aggregate (no driver job at construction), each key gets
    ceil(rows/target) buckets. Same one DuckDB ASOF oracle; target
    lowered so the path actually salts at driver scale."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    build = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    return asof_join(
        probe, build, on="user_id", ts="ts", salt="auto", salt_target_rows=4
    )


def q_asof_forward(spark, sf_dir):
    """Forward as-of: next 'click' value at or after each 'signup'."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    build = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    return asof_join(probe, build, on="user_id", ts="ts", direction="forward")


def q_sessionize(spark, sf_dir):
    """Gap sessionization (30 min): per-user session count."""
    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts", gap_s=1800.0)
    return sess.groupBy("user_id").agg(F.max("session_id").alias("n_sessions"))


def q_lag_delta(spark, sf_dir):
    """lag window: per-user value delta (pass-through doubles)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return ev.select("event_id", (F.col("value") - F.lag("value").over(w)).alias("delta"))


def q_ffill_views(spark, sf_dir):
    """forward fill: last view value at or before each event, per user."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "view_value", F.when(F.col("event_type") == "view", F.col("value"))
    )
    return forward_fill(ev, ["view_value"], key="user_id", ts="ts").select(
        "event_id", "view_value"
    )


def q_bfill_views(spark, sf_dir):
    """backward fill: first view value at or after each event, per user
    (label-side fill; operators/windows.py:backward_fill)."""
    from htrc_feature_reader_spark.operators.windows import backward_fill

    ev = _t(spark, sf_dir, "events").withColumn(
        "view_value", F.when(F.col("event_type") == "view", F.col("value"))
    )
    return backward_fill(ev, ["view_value"], key="user_id", ts="ts").select(
        "event_id", "view_value"
    )


def q_term_volume_freqs(spark, sf_dir):
    """A7 + O2 ranked output: per-volume page frequencies of terms, ranked
    by a fully deterministic (count desc, token asc) row_number so the
    rank column itself is hash-checkable."""
    from htrc_feature_reader_spark.operators.tokenlist import term_volume_freqs

    tl = _doc_tokens(spark, sf_dir).withColumnRenamed("doc_id", "htid")
    tvf = term_volume_freqs(tl, page_freq=True, pos=False, section="group")
    w = Window.partitionBy("htid").orderBy(F.desc("count"), F.asc("token"))
    return tvf.select(
        F.col("htid").alias("doc_id"), "token",
        F.col("count").alias("n_pages"),
        F.row_number().over(w).cast("long").alias("rnk"),
    ).filter(F.col("rnk") <= 25)


def q_page_select(spark, sf_dir):
    """F2 page_select: restrict the fold to one page (empty, not error,
    when the page is absent)."""
    tl = _doc_tokens(spark, sf_dir).withColumnRenamed("doc_id", "htid")
    out = fold_tokenlist(
        tl, pages=True, case=True, pos=False, page_select=2, doc_col="htid"
    )
    return out.select(F.col("htid").alias("doc_id"), "page", "token", "count")


def q_daily_rollup(spark, sf_dir):
    """windowed feature build: per-user daily event rollup."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


def q_session_stats(spark, sf_dir):
    """sessionize + per-session aggregates (count, duration seconds)."""
    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts="ts", gap_s=1800.0)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(ts_seconds("ts")) - F.min(ts_seconds("ts"))).alias("dur_s"),
    )


# ---------------------------------------------------------------------------
# D. north-rule sequences pipeline (full oracle: exact int arithmetic)


def q_seq_pit_features(spark, sf_dir):
    """Point-in-time windowed feature build over the derived sequences."""
    feats = _pit_features(spark, sf_dir)
    return feats.select(
        "doc_key", "event_id", "ts", "n_tok", "sum_tok",
        F.col("seq_idx").cast("long").alias("seq_idx"),
        "cum_n_tok", "cum_sum_tok", "mean_n_tok", "mean_token_id",
        "src_cum_n_tok", "doc_src_cum_n_tok", "src_share", "session_id",
    )


def q_seq_asof_features(spark, sf_dir):
    """As-of join of the PIT feature table onto probe timestamps
    (purchase events shifted +1s), the north-rule serving pattern."""
    feats = _pit_features(spark, sf_dir)
    build = feats.select(
        "doc_key", "ts",
        F.col("seq_idx").cast("long").alias("f_seq_idx"),
        F.col("cum_n_tok").alias("f_cum_n_tok"),
        F.col("cum_sum_tok").alias("f_cum_sum_tok"),
        F.col("mean_token_id").alias("f_mean_token_id"),
    ).distinct()  # tie rows (equal doc/ts) share identical range-frame features
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(50)).cast("long").alias("doc_key"),
        (F.col("ts") + F.make_interval(secs=F.lit(1.0))).alias("ts"),
    )
    return asof_join(probe, build, on="doc_key", ts="ts")


# ---------------------------------------------------------------------------
# E. training-data pipeline ops (dedup / similarity / text / multimodal)


def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs, text_col="text", id_col="doc_id")


def q_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (3-word shingles, tau=0.2), with the
    stop-shingle cap on (shingles in > 50% of docs dropped before the
    shared-shingle join — the guard that keeps the join non-quadratic on
    boilerplate shingles at corpus scale).

    Shingles are the HASHED ids of word_shingle_ids, not strings: the
    shared-shingle join then shuffles 8-byte longs instead of ~20-byte
    n-gram strings (and no shingle string is ever materialized — one
    char pass per doc). Jaccard over hashed ids can merge colliding
    shingles; the oracle replays the identical hash family, so even
    collisions agree (the repo's standard exact-integer oracle trick)."""
    sh = stop_capped_shingle_ids(
        _t(spark, sf_dir, "documents"), n=3
    ).withColumnRenamed("shingle_id", "shingle")
    return jaccard_pairs(sh, threshold=0.2).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jacc"
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash(8) + LSH(4 bands x 2 rows) candidate pairs, stop-shingle
    cap on (> 50%-of-corpus shingles dropped — one viral shingle would
    otherwise put every doc carrying it into one quadratic LSH bucket).

    Shingle ids come from the shuffle-free word-composed rolling hash
    (map-side, engine-portable, one char pass per doc) — no shingle
    strings materialized, no vocabulary build, no global sort."""
    ds = stop_capped_shingle_ids(_t(spark, sf_dir, "documents"), n=3)
    sigs = minhash_signatures(ds, n_hashes=_MH_N, seed=_MH_SEED)
    return lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def q_dedup_clusters(spark, sf_dir):
    """Cluster-correct near-dup survivorship: LSH candidate pairs ->
    signature-estimated-Jaccard verification (>= 2/8 agreeing positions)
    -> connected components via iterative large-star/small-star joins
    (operators/components.py). Output (doc_id, component) with component
    = min doc_id of the cluster — deterministic under any partitioning.
    The oracle replays the identical pair set and resolves components by
    recursive reachability + min."""
    from htrc_feature_reader_spark.operators.components import connected_components

    ds = stop_capped_shingle_ids(_t(spark, sf_dir, "documents"), n=3)
    sigs = minhash_signatures(ds, n_hashes=_MH_N, seed=_MH_SEED)
    ver = lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2,
                              verify_threshold=0.25)
    cc = connected_components(ver)
    return cc.select(F.col("id").alias("doc_id"), "component")


def _simhash_sigs(spark, sf_dir):
    """Shared fingerprint pipeline for q_simhash and q_simhash_pairs —
    both must stay bit-identical for the one _simhash_sql oracle."""
    from htrc_feature_reader_spark.operators.hashing import rolling_hash

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split("text", " ")).alias("token"),
    ).groupBy("id", "token").agg(F.count(F.lit(1)).alias("weight"))
    dt = toks.select("id", rolling_hash("token").alias("token_id"), "weight")
    return simhash(dt, bits=_SH_BITS, seed=_MH_SEED)


def q_simhash(spark, sf_dir):
    """SimHash(16) fingerprint per document (weighted by token count);
    rolling-hash token ids — no vocabulary build."""
    return _simhash_sigs(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash banded near-dup pair mining (dedup.simhash_candidate_pairs):
    16-bit fingerprints sliced into 4 bands; candidates share a band;
    hamming <= 3 pairs are found with EXACT recall (pigeonhole). Oracle
    replays the identical integer band/hamming math over the same
    fingerprints."""
    from htrc_feature_reader_spark.operators.dedup import simhash_candidate_pairs

    sigs = _simhash_sigs(spark, sf_dir)
    return simhash_candidate_pairs(
        sigs, bits=_SH_BITS, n_bands=_SH_PAIR_BANDS
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id < 5)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    corpus = emb.select("vec_id", "embedding")
    # k=6 then drop self; tie_round=6 makes the inner k-cut use the SAME
    # (round(cos,6), id) ordering as the outer rank and the oracle — a raw-
    # cos cut could drop a row that rounded ties would keep (hash flake)
    scored = cosine_topk(queries, corpus, k=6, tie_round=6)
    out = scored.filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cos", 6)), "vec_id")
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.round("cos", 4).alias("cos4"))
    )


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (operators/ivf.py) with nprobe == n_centroids: probing
    every bucket recovers EXACT brute-force top-k regardless of the
    (float-order-dependent) centroid values, because each corpus vector
    lives in exactly one bucket — so the approximate operator's plumbing
    is value-checkable against the same brute-force oracle. Recall at
    nprobe<k is covered by tests/test_ivf.py."""
    from htrc_feature_reader_spark.operators.ivf import ivf_index, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_index(emb, n_centroids=8, n_iters=2)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    # tie_round=6: the inner k-cut orders by (round(cos,6), id) — same
    # ordering as the outer rank and the oracle (see q_ann_cosine_topk)
    scored = ivf_topk(assigned, centroids, queries, k=6, nprobe=8, tie_round=6)
    out = scored.filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cos", 6)), "vec_id")
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.round("cos", 4).alias("cos4"))
    )


def q_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = quality_features(docs, "text")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "avg_token_len", "distinct_ratio", "punct_ratio", "digit_ratio",
    )


def q_lang_distribution(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


def q_lang_detect(spark, sf_dir):
    """The marker-stopword language-id HEURISTIC itself (operators/text.py
    lang_id, ~10 languages) over the documents text, distribution by
    detected code. The oracle replays the same distinct-token /
    marker-intersect / max-(hits, lang) rule; tie-break is the
    lexicographically greatest code on equal hits (array_max struct
    ordering), 'und' on zero hits."""
    from htrc_feature_reader_spark.operators.text import detect_language

    docs = _t(spark, sf_dir, "documents")
    return (
        detect_language(docs.select("doc_id", "text"), out_col="detected")
        .groupBy("detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_detect_sql() -> str:
    from htrc_feature_reader_spark.operators.text import _LANG_MARKERS

    vals = ",\n          ".join(
        "('{}', [{}])".format(lang, ", ".join(repr(m) for m in ms))
        for lang, ms in sorted(_LANG_MARKERS.items())
    )
    return rf"""
      WITH toks AS (
        SELECT doc_id,
               list_distinct(string_split_regex(lower(text), '\s+')) AS tk
        FROM documents),
      scores AS (
        SELECT doc_id, l.lang, len(list_intersect(tk, l.markers)) AS hits
        FROM toks CROSS JOIN (VALUES
          {vals}) l(lang, markers)),
      best AS (
        SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS detected
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY hits DESC, lang DESC) AS rn
              FROM scores)
        WHERE rn = 1)
      SELECT detected, count(*) AS n_docs FROM best GROUP BY detected
    """


def q_tf_idf(spark, sf_dir):
    """Source-level tf stats (north-star component): TF-IDF over the
    whitespace-token counts of the documents table. Fully lazy — the
    corpus size N rides in as a broadcast 1-row aggregate, never a
    driver-side count (operators/text.py:tf_idf)."""
    from htrc_feature_reader_spark.operators.text import tf_idf

    tl = _doc_tokens(spark, sf_dir).groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("count")
    )
    out = tf_idf(tl, doc_col="doc_id", token_col="token", count_col="count")
    return out.select(
        "doc_id", "token", "tc", "df",
        F.round("tf", 9).alias("tf9"), F.round("tf_idf", 9).alias("tfidf9"),
    )


def q_line_dedup(spark, sf_dir):
    """C4-style corpus-level line dedup (operators/text.py:
    remove_duplicate_lines): documents are given a deterministic line
    structure (10-word lines), lines appearing in >= 3 distinct docs are
    removed everywhere, docs reassembled in order. The oracle replays the
    same line split + df threshold + ordered re-concat."""
    from htrc_feature_reader_spark.operators.text import remove_duplicate_lines

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    lined = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = remove_duplicate_lines(lined, min_df=3)
    return out.select(
        "doc_id", F.md5(F.col("text_deduped")).alias("dedup_md5"),
        F.length("text_deduped").cast("long").alias("n_chars"),
    )


def q_fingerprint(spark, sf_dir):
    from htrc_feature_reader_spark.operators.dedup import content_digest

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", content_digest("text", normalize=True).alias("fp"))


def q_bpe_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(BPE_ISH_PATTERN)).cast("long").alias("n_bpe"),
    )


# pack_sequences driver config: a stand-in tokenizer (first-char code * 31
# + word length — pure integer arithmetic the oracle replays verbatim),
# EOS=1, 128-token sequences. The oracle rebuilds the global token stream
# with row_number over (doc_id, word ordinal) and checks per-sequence
# count / distinct-doc count / ends / a position-weighted checksum — i.e.
# the packing layout itself, not just totals. Full token-array byte
# equality is pinned by tests/test_packing.py against a numpy reference.
_PACK_LEN = 128


def q_pack_sequences(spark, sf_dir):
    from htrc_feature_reader_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        F.transform(
            F.split("text", " "),
            lambda w: (F.ascii(w) * 31 + F.length(w)).cast("int"),
        ).alias("tokens"),
    )
    packed = pack_sequences(toked, _PACK_LEN, eos_token=1, drop_last=True)
    return packed.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.element_at("tokens", 1).cast("long").alias("first_tok"),
        F.element_at("tokens", _PACK_LEN).cast("long").alias("last_tok"),
        F.aggregate(
            F.zip_with(
                "tokens",
                F.sequence(F.lit(1), F.size("tokens")),
                lambda t, p: t.cast("long") * p.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("checksum"),
    )


def _pack_sequences_sql() -> str:
    L = _PACK_LEN
    return f"""
    WITH toks AS (
      SELECT doc_id, ascii(w) * 31 + length(w) AS tok, ord
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS ord
            FROM documents)
    ), witheos AS (
      SELECT doc_id, tok, ord FROM toks
      UNION ALL
      SELECT doc_id, 1 AS tok, 2147483647 AS ord FROM documents
    ), gpos AS (
      SELECT tok, doc_id,
             row_number() OVER (ORDER BY doc_id, ord) - 1 AS g
      FROM witheos
    )
    SELECT CAST(g // {L} AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(arg_min(tok, g) AS BIGINT) AS first_tok,
           CAST(arg_max(tok, g) AS BIGINT) AS last_tok,
           CAST(sum((g % {L} + 1) * tok) AS BIGINT) AS checksum
    FROM gpos
    GROUP BY g // {L}
    HAVING count(*) = {L}
    ORDER BY seq_id
    """


# hash-tokenizer driver config: BPE-ish pretokens -> rolling-hash ids
# folded into a 32768-slot vocab; ids are bit-identical across engines
# (tokenize_sql), so the checksum is position-weighted and exact.
_TOK_VOCAB = 32768


def _tok_projection(toked):
    """(doc_id, n_tok, checksum) with checksum = sum(pos * id) — exact
    int64 (ids < 2^15, positions document-bounded)."""
    n = F.size("tokens")
    csum = F.when(
        n > 0,  # F.sequence(1, 0) would yield a DESCENDING [1, 0]
        F.aggregate(
            F.zip_with(
                "tokens",
                F.sequence(F.lit(1), n),
                lambda t, p: t.cast("long") * p.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    ).otherwise(F.lit(0).cast("long"))
    return toked.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n.cast("long").alias("n_tok"),
        csum.alias("checksum"),
    )


def q_tokenize_hash(spark, sf_dir):
    """Content-deterministic tokenizer: BPE-ish pretokenizer + rolling-hash
    ids (the model-tokenizer seam's JVM-side default)."""
    from htrc_feature_reader_spark.operators.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    return _tok_projection(tokenize(docs, vocab_size=_TOK_VOCAB))


def _tokenize_hash_sql(where: str = "") -> str:
    from htrc_feature_reader_spark.operators.text import tokenize_sql

    toks = tokenize_sql("text", vocab_size=_TOK_VOCAB)
    return f"""
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(COALESCE(list_sum(
               list_transform(range(1, len(t) + 1), i -> i * t[i])), 0)
             AS BIGINT) AS checksum
      FROM (SELECT doc_id, {toks} AS t FROM documents) {where}
    """


def q_unpack_roundtrip(spark, sf_dir):
    """End-to-end tokenize -> pack -> unpack lineage audit: unpacking the
    packed corpus (drop_last=False, EOS=0 stripped) must reproduce every
    document's token stream exactly — the oracle is the tokenizer
    identity, so any packing/unpacking drift (lost fragment, misordered
    span, EOS miscount) breaks the checksum."""
    from htrc_feature_reader_spark.operators.packing import (
        pack_sequences,
        unpack_sequences,
    )
    from htrc_feature_reader_spark.operators.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toked = tokenize(docs, vocab_size=_TOK_VOCAB).select("doc_id", "tokens")
    packed = pack_sequences(toked, 256, eos_token=0, drop_last=False)
    return _tok_projection(unpack_sequences(packed, eos_token=0))


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals, row-local zero-shuffle fold; the
    oracle computes the same statistics set-wise (unnest + GROUP BY)."""
    from htrc_feature_reader_spark.operators.text import repetition_features

    docs = _t(spark, sf_dir, "documents")
    return repetition_features(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "dup_line_frac",
        "dup_line_char_frac",
        "top_ngram_char_frac",
    )


def _repetition_sql() -> str:
    return r"""
      WITH l AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, chr(10)), x -> x <> '')) AS line
        FROM documents
      ), lc AS (
        SELECT doc_id, line, count(*) AS c FROM l GROUP BY 1, 2
      ), ls AS (
        SELECT doc_id, sum(c) AS n_lines, count(*) AS n_distinct,
               sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dupchars,
               sum(c * length(line)) AS total_chars
        FROM lc GROUP BY 1
      ), w AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        FROM documents
      ), g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS gram
        FROM w
      ), gc AS (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
      ), gtop AS (
        SELECT doc_id, c, gram,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, gram ASC) AS rk
        FROM gc
      )
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             COALESCE((ls.n_lines - ls.n_distinct) / greatest(ls.n_lines, 1),
                      0.0) AS dup_line_frac,
             COALESCE(ls.dupchars / greatest(ls.total_chars, 1),
                      0.0) AS dup_line_char_frac,
             COALESCE(t.c * length(t.gram) / greatest(length(d.text), 1),
                      0.0) AS top_ngram_char_frac
      FROM documents d
      LEFT JOIN ls ON d.doc_id = ls.doc_id
      LEFT JOIN (SELECT * FROM gtop WHERE rk = 1) t ON d.doc_id = t.doc_id
    """


def q_take_per_source(spark, sf_dir):
    """Exact stratified carve: the 7 hash-smallest docs per source (fixed
    eval/calibration sets), deterministic across engines."""
    from htrc_feature_reader_spark.operators.packing import take_per_source

    docs = _t(spark, sf_dir, "documents")
    return take_per_source(docs, 7, seed=13).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )


def _take_per_source_sql() -> str:
    from htrc_feature_reader_spark.operators.hashing import key_hash_sql

    h = key_hash_sql("doc_id", 13)
    return f"""
      SELECT CAST(doc_id AS BIGINT) AS doc_id, source FROM (
        SELECT doc_id, source, row_number() OVER (
          PARTITION BY source ORDER BY ({h}) ASC, doc_id ASC) AS rk
        FROM documents) WHERE rk <= 7
    """


def q_split_by_hash(spark, sf_dir):
    """Deterministic train/val/test carve (operators/packing.py:
    split_by_hash): integer-threshold hash intervals, disjoint and stable
    under corpus growth; the oracle replays the exact CASE expression."""
    from htrc_feature_reader_spark.operators.packing import split_by_hash

    docs = _t(spark, sf_dir, "documents")
    return split_by_hash(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=101
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "split")


def _split_by_hash_sql() -> str:
    from htrc_feature_reader_spark.operators.packing import split_sql_case

    c = split_sql_case({"train": 0.9, "val": 0.05, "test": 0.05}, "doc_id", 101)
    return f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {c} AS split FROM documents"


def q_shuffle_order(spark, sf_dir):
    """Training-shard shuffle layout (operators/packing.py:
    shuffle_sequences): a deterministic pseudo-random global order via a
    range sort on the decision hash. The driver compare is
    order-insensitive, so the emitted shuffle_key IS the evidence (equal
    keys = equal permutation); global sortedness across partitions is
    pytest-asserted."""
    from htrc_feature_reader_spark.operators.packing import shuffle_sequences

    docs = _t(spark, sf_dir, "documents")
    return shuffle_sequences(docs, key_col="doc_id", seed=29).select(
        F.col("doc_id").cast("long").alias("doc_id"), "shuffle_key"
    )


def _shuffle_order_sql() -> str:
    from htrc_feature_reader_spark.operators.packing import shuffle_key_sql

    h = shuffle_key_sql("doc_id", 29)
    return f"SELECT CAST(doc_id AS BIGINT) AS doc_id, ({h}) AS shuffle_key FROM documents"


def q_length_bucket(spark, sf_dir):
    """Padding-efficient batch bucketing (operators/packing.py:
    length_bucket) over document lengths: bucket i = #boundaries <= len."""
    from htrc_feature_reader_spark.operators.packing import length_bucket

    docs = _t(spark, sf_dir, "documents")
    return length_bucket(docs, [200, 400, 800], len_col="n_chars").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "bucket",
    )


def _length_bucket_sql() -> str:
    return """
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(list_filter([200, 400, 800], b -> b <= n_chars)) AS INT)
               AS bucket
      FROM documents
    """


def q_bm25(spark, sf_dir):
    """Okapi BM25 weights (operators/text.py:bm25) over the whitespace
    token counts — same lazy 1-row corpus-constant pattern as tf_idf, plus
    doc-length normalization (avgdl rides in the same broadcast row)."""
    from htrc_feature_reader_spark.operators.text import bm25

    tl = _doc_tokens(spark, sf_dir).groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("count")
    )
    out = bm25(tl, doc_col="doc_id", token_col="token", count_col="count")
    return out.select(
        "doc_id", "token", "tc", "doc_total", "df",
        F.round("bm25", 9).alias("bm25_9"),
    )


def _bm25_sql() -> str:
    return f"""
      WITH per AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tc
        FROM ({_SQL_TOKENS}) GROUP BY 1, 2),
      totals AS (SELECT doc_id, CAST(sum(tc) AS BIGINT) AS doc_total
                 FROM per GROUP BY 1),
      corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        avg(doc_total) AS avgdl FROM totals),
      dfreq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM per GROUP BY 1)
      SELECT per.doc_id, per.token, per.tc, totals.doc_total, dfreq.df,
             round(ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * per.tc * 2.2
                   / (per.tc + 1.2 * (0.25 + 0.75 * totals.doc_total
                                              / corpus.avgdl)), 9) AS bm25_9
      FROM per
      JOIN totals USING (doc_id)
      JOIN dfreq USING (token), corpus
    """


def q_pii(spark, sf_dir):
    """PII detection + redaction (operators/text.py: pii_features,
    redact_pii). The corpus is synthetic word salad with no real contact
    data, so the query deterministically plants typed PII derived from
    doc_id (same expression on both engines), then counts each kind and
    md5-fingerprints the redacted text — the hash pins the full redaction
    output, not just the counts."""
    from htrc_feature_reader_spark.operators.text import (
        pii_features,
        redact_pii,
    )

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail u"), F.col("doc_id"), F.lit("@ex.com ip 10.0."),
            (F.col("doc_id") % 250).cast("string"), F.lit("."),
            (F.col("doc_id") % 100).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789"))
             .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" tel +1 555 123 4567"))
             .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact_pii(pii_features(planted), out_col="clean")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "pii_email", "pii_ipv4", "pii_ssn", "pii_phone", "pii_total",
        F.md5(F.col("clean").cast("binary")).alias("clean_md5"),
    )


def _pii_sql() -> str:
    from htrc_feature_reader_spark.operators.text import PII_PATTERNS

    planted = (
        "text || ' mail u' || doc_id || '@ex.com ip 10.0.' || (doc_id % 250)"
        " || '.' || (doc_id % 100)"
        " || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' tel +1 555 123 4567' ELSE '' END"
    )
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{p}')) AS INT) AS pii_{kind}"
        for kind, p in PII_PATTERNS.items()
    )
    total = " + ".join(f"pii_{kind}" for kind in PII_PATTERNS)
    red = "t"
    for kind, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '<{kind}>', 'g')"
    return f"""
      WITH planted AS (SELECT doc_id, {planted} AS t FROM documents),
      counted AS (SELECT doc_id, t, {counts} FROM planted)
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             pii_email, pii_ipv4, pii_ssn, pii_phone,
             CAST({total} AS INT) AS pii_total, md5({red}) AS clean_md5
      FROM counted
    """


def q_corpus_stats(spark, sf_dir):
    """Dataset-card summary (operators/stats.py: corpus_stats): one
    partial+final aggregate to a #sources-sized table with EXACT
    interpolated quantiles (engine-portable, unlike approx_percentile);
    the share column's unpartitioned window runs on the tiny aggregate,
    never the corpus. Floats rounded to 9 for the value hash."""
    from htrc_feature_reader_spark.operators.stats import corpus_stats

    docs = _t(spark, sf_dir, "documents")
    out = corpus_stats(docs)
    return out.select(
        "source", "n_docs", "total_len",
        F.round("mean_len", 9).alias("mean_len9"),
        "min_len", "max_len", "q50", "q90", "q99",
        F.round("doc_share", 9).alias("doc_share9"),
    )


def _corpus_stats_sql() -> str:
    from htrc_feature_reader_spark.operators.stats import corpus_stats_sql

    return f"""
      SELECT source, n_docs, total_len,
             round(mean_len, 9) AS mean_len9,
             min_len, max_len, q50, q90, q99,
             round(doc_share, 9) AS doc_share9
      FROM ({corpus_stats_sql()})
    """


def q_incremental_dedup(spark, sf_dir):
    """Incremental digest-store dedup (sources/digest_store.py): round 1
    indexes the first half of the corpus (doc_id < 250), round 2 ingests
    the second half against that store — returned survivors are the
    second-half docs whose content was never seen (store membership) and
    that win within-batch survivorship (min doc_id per digest). The store
    dir is wiped first so re-runs are idempotent."""
    import shutil

    from htrc_feature_reader_spark.sources.digest_store import ingest_batch

    path = _rt_path(sf_dir, "digest_store")
    shutil.rmtree(path, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents")
    ingest_batch(docs.filter(F.col("doc_id") < 250), path)
    out = ingest_batch(docs.filter(F.col("doc_id") >= 250), path)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "digest")


def _incremental_dedup_sql() -> str:
    return """
      WITH h AS (SELECT doc_id, md5(text) AS digest FROM documents),
      firsthalf AS (SELECT DISTINCT digest FROM h WHERE doc_id < 250),
      secondhalf AS (
        SELECT digest, min(doc_id) AS doc_id
        FROM h WHERE doc_id >= 250 GROUP BY digest)
      SELECT CAST(doc_id AS BIGINT) AS doc_id, digest
      FROM secondhalf ANTI JOIN firsthalf USING (digest)
    """


def q_incremental_near_dup(spark, sf_dir):
    """Incremental NEAR-dup signature store (sources/signature_store.py):
    the corpus is ingested in three ascending-doc_id batches, each
    suppressed within itself (verified LSH pairs, larger id drops) and
    against every signature recorded by earlier batches. Record-all
    semantics + content-deterministic signatures make this EXACTLY
    equivalent to the one-shot rule "drop d iff a verified pair (a, d)
    with a < d exists" — which is what the oracle computes, so the
    incremental plumbing itself (store reads, shard appends, precedence)
    is value-checked, not just the miner. No stop-shingle cap on either
    side: corpus-frequency stats are batch-dependent and would break the
    equivalence (the store docstring mandates fixed stop lists instead)."""
    import shutil

    from htrc_feature_reader_spark.sources.signature_store import (
        ingest_batch_near_dup, word_minhash_signatures)

    store = _rt_path(sf_dir, "sig_store")
    out_dir = _rt_path(sf_dir, "sig_out")
    shutil.rmtree(store, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    step = (int(hi) - int(lo)) // 3 + 1
    for k in range(3):
        b = docs.filter(
            (F.col("doc_id") >= lo + k * step)
            & (F.col("doc_id") < lo + (k + 1) * step)
        )
        ingest_batch_near_dup(
            b, store, word_minhash_signatures(b), threshold=0.25,
            out_path=out_dir,
        )
    return (
        spark.read.parquet(out_dir)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )


def _incremental_neardup_sql() -> str:
    """Oracle for q_incremental_near_dup: the one-shot predecessor rule
    over the SAME integer minhash family (no stop-shingle filter — see
    the query docstring), replayed corpus-wide in DuckDB."""
    match_sum = " + ".join(f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(_MH_N))
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH sh AS ({_SQL_SHINGLES}),
      ds AS (SELECT DISTINCT doc_id, {sid} AS sid FROM sh),
      mh AS (SELECT doc_id, {_SQL_MH_HASHES} FROM ds GROUP BY doc_id),
      dropped AS (
        SELECT DISTINCT b.doc_id
        FROM mh a JOIN mh b ON a.doc_id < b.doc_id AND ({_SQL_MH_BANDS})
        WHERE ({match_sum}) / {_MH_N}.0 >= 0.25)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id
      FROM documents d ANTI JOIN dropped USING (doc_id)
    """


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag every training doc sharing a word
    3-gram with the 'eval suite' (here: the texts of doc_id < 5). The
    overlap test runs on hashed shingle ids (word_shingle_ids' shared
    integer hash family) — the oracle replays the same hashes and joins
    on sid, so even hash collisions would agree."""
    from htrc_feature_reader_spark.operators import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") < 5).select("text")
    out = decontaminate(docs, ev, n=3, return_flags=True)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("contaminated"),
    )


def _decontaminate_sql() -> str:
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH tr AS ({_SQL_SHINGLES}),
      ev AS (
        SELECT DISTINCT {sid} AS sid
        FROM ({_SQL_SHINGLES.replace("FROM documents", "FROM documents WHERE doc_id < 5")})
      ),
      trh AS (SELECT DISTINCT doc_id, {sid} AS sid FROM tr),
      c AS (SELECT DISTINCT doc_id FROM trh SEMI JOIN ev USING (sid))
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             (c.doc_id IS NOT NULL) AS contaminated
      FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
    """


# training-mixture recipe for q_sample_mixture: per-source keep rates over
# the documents table's src0..src19, exercising full-keep, partial, and
# the default-drop for sources outside the recipe
_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_SEED = 11


def q_sample_mixture(spark, sf_dir):
    from htrc_feature_reader_spark.operators.packing import sample_mixture

    docs = _t(spark, sf_dir, "documents")
    kept = sample_mixture(docs, _MIX_RATES, seed=_MIX_SEED)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


def _sample_mixture_sql() -> str:
    from htrc_feature_reader_spark.operators.packing import mixture_sql_predicate

    pred = mixture_sql_predicate(_MIX_RATES, seed=_MIX_SEED)
    return f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM documents
    WHERE {pred}
    GROUP BY source
    """


_EPOCH_RATES = {"src1": 2.5, "src2": 1.0, "src3": 0.4}
_EPOCH_SEED = 13


def q_boilerplate(spark, sf_dir):
    """Cross-document boilerplate signal (operators/dedup.py:
    boilerplate_fraction): fraction of each doc's distinct word 3-grams
    appearing in >= 4 docs corpus-wide. One distinct over hashed
    (doc, shingle) pairs, one map-side-combined df count, one semi-join
    back (heavy set bounded by total_pairs/min_df — AQE broadcasts it),
    one per-doc count. The oracle replays the identical rolling-hash ids
    so a hash collision changes both engines the same way."""
    from htrc_feature_reader_spark.operators.dedup import boilerplate_fraction

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_fraction(docs, min_df=4).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        F.round("boilerplate_frac", 9).alias("boiler_frac9"),
    )


def _boilerplate_sql() -> str:
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH sh AS ({_SQL_SHINGLES}),
      ds AS (SELECT DISTINCT doc_id, {sid} AS sid FROM sh),
      heavy AS (
        SELECT sid FROM ds GROUP BY sid HAVING count(*) >= 4),
      tot AS (SELECT doc_id, count(*) AS n_shingles FROM ds GROUP BY 1),
      flg AS (
        SELECT ds.doc_id, count(*) AS n_boiler FROM ds
        SEMI JOIN heavy USING (sid) GROUP BY 1)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             CAST(COALESCE(tot.n_shingles, 0) AS BIGINT) AS n_shingles,
             CAST(COALESCE(flg.n_boiler, 0) AS BIGINT) AS n_boiler,
             round(CAST(COALESCE(flg.n_boiler, 0) AS DOUBLE) /
                   greatest(COALESCE(tot.n_shingles, 0), 1), 9) AS boiler_frac9
      FROM documents d
      LEFT JOIN tot ON d.doc_id = tot.doc_id
      LEFT JOIN flg ON d.doc_id = flg.doc_id
    """


def q_top_terms(spark, sf_dir):
    """Heavy-hitter vocabulary (operators/stats.py: top_terms): exact
    per-source top-5 terms; the explode dies at the first partial
    aggregate, the shuffle carries only distinct (source, term) rows,
    and Spark's WindowGroupLimit turns the rank filter into a partial
    per-partition top-k before the window shuffle."""
    from htrc_feature_reader_spark.operators.stats import top_terms

    docs = _t(spark, sf_dir, "documents")
    return top_terms(docs, k=5).select(
        "source", "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("rank").cast("long").alias("rank"),
    )


def _top_terms_sql() -> str:
    return r"""
      SELECT source, term, tf, df, rank FROM (
        SELECT source, term,
               CAST(count(*) AS BIGINT) AS tf,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, term ASC) AS rank
        FROM (
          SELECT doc_id, source,
                 unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS term
          FROM documents)
        GROUP BY source, term)
      WHERE rank <= 5
    """


def q_jsonl_quarantine(spark, sf_dir):
    """Raw JSONL ingest with corrupt-record quarantine (sources/
    jsonl_raw.py): documents written as JSONL shards, two poison lines
    (unparseable + null-required) injected, read back under the explicit
    contract. The returned frame is the GOOD side — hash-equality with
    the source table proves the poison lines were quarantined, not
    leaked through as null rows, and the sink->scan path is lossless."""
    import os

    from htrc_feature_reader_spark.sources.jsonl_raw import (
        DOCUMENTS_JSONL_SCHEMA,
        read_jsonl,
        write_jsonl,
    )

    docs = _t(spark, sf_dir, "documents")
    dest = "/tmp/htrc_spark_sinks/jsonl_quarantine"
    write_jsonl(docs, dest, mode="overwrite", partitions=4)
    with open(os.path.join(dest, "poison.json"), "w") as f:
        f.write("this line is not json\n")
        f.write('{"doc_id": null, "text": "no id", "lang": "en", '
                '"source": "srcX", "n_chars": 5}\n')
    good, quarantine = read_jsonl(
        spark, dest, schema=DOCUMENTS_JSONL_SCHEMA, required=("doc_id",)
    )
    # touch the quarantine side so the run asserts both halves: exactly
    # the 2 poison lines, no more (a leak on the good side would also
    # break the hash; a third quarantined row means the sink corrupted a
    # real document)
    assert quarantine.count() == 2
    return good


def q_seq_minhash(spark, sf_dir):
    """Near-dup mining over PRE-TOKENIZED sequences (dedup.py:
    token_shingle_ids -> the unchanged minhash/LSH stack): token arrays
    derived from events share per-template prefixes (group = event_id %
    25, lengths 40..47), so same-group docs are true near-dups. The
    token-5-gram rolling hash, MinHash family, and banding are replayed
    integer-exactly in the oracle."""
    from htrc_feature_reader_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        token_shingle_ids,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    g = F.pmod(F.col("event_id"), F.lit(25))
    length = F.lit(40) + F.pmod(F.col("event_id"), F.lit(8))
    tokens = F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda i: F.pmod(
            g * F.lit(_SEQ_MULT) + i * F.lit(_SEQ_STEP), F.lit(_SEQ_VOCAB)
        ).cast("int"),
    )
    docs = ev.select(F.col("event_id").alias("doc_id"), tokens.alias("tokens"))
    pairs = lsh_candidate_pairs(
        minhash_signatures(token_shingle_ids(docs, n=5))
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("doc_a"),
        F.col("id_b").cast("long").alias("doc_b"),
    )


def _seq_minhash_sql() -> str:
    return f"""
      WITH seqdocs AS (
        SELECT event_id AS doc_id,
               list_transform(range(0, CAST(40 + event_id % 8 AS INT)),
                 i -> ((event_id % 25) * {_SEQ_MULT} + i * {_SEQ_STEP})
                      % {_SEQ_VOCAB}) AS tokens
        FROM events WHERE event_id < 400),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest({token_window_ids_sql('tokens', 5)}) AS sid
        FROM seqdocs),
      mh AS (SELECT doc_id, {_SQL_MH_HASHES} FROM sh GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mh a JOIN mh b ON a.doc_id < b.doc_id AND ({_SQL_MH_BANDS})
    """


def q_mixture_epochs(spark, sf_dir):
    """Upsampling mixture (packing.sample_mixture with rates > 1): rare
    sources get floor(rate) full passes plus a hash-decided fractional
    pass, each copy tagged with a 0-based epoch. Catalyst plan is one
    sequence+explode projection over the scan, no shuffle until the
    verification aggregate. Oracle replays the copy count via
    mixture_copies_sql + DuckDB's per-row unnest."""
    from htrc_feature_reader_spark.operators.packing import sample_mixture

    docs = _t(spark, sf_dir, "documents")
    out = sample_mixture(
        docs, _EPOCH_RATES, seed=_EPOCH_SEED, epoch_col="epoch"
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.max("epoch").cast("long").alias("max_epoch"),
        F.sum(F.col("doc_id") * (F.col("epoch") + 1))
        .cast("long")
        .alias("checksum"),
    )


def _mixture_epochs_sql() -> str:
    from htrc_feature_reader_spark.operators.packing import mixture_copies_sql

    copies = mixture_copies_sql(_EPOCH_RATES, seed=_EPOCH_SEED)
    return f"""
    WITH reps AS (
      SELECT source, doc_id,
             unnest(generate_series(0, ({copies}) - 1)) AS epoch
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(epoch) AS BIGINT) AS max_epoch,
           CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS checksum
    FROM reps
    GROUP BY source
    """


_PAD_LEN = 96


def q_pack_padded(spark, sf_dir):
    """Document-boundary packing (packing.pack_documents_padded): each doc
    chunked to fixed length with zero-padding, no cross-doc token leakage.
    pad_token=0 so the position-weighted checksum counts real tokens only;
    the oracle groups the token stream by (doc, ord div L)."""
    from htrc_feature_reader_spark.operators.packing import (
        pack_documents_padded,
    )

    docs = _t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        F.transform(
            F.split("text", " "),
            lambda w: (F.ascii(w) * 31 + F.length(w)).cast("int"),
        ).alias("tokens"),
    )
    out = pack_documents_padded(toked, _PAD_LEN, pad_token=0)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_pad").cast("long").alias("n_pad"),
        F.aggregate(
            F.zip_with(
                "tokens",
                F.sequence(F.lit(1), F.size("tokens")),
                lambda t, p: t.cast("long") * p.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("checksum"),
    )


def _pack_padded_sql() -> str:
    L = _PAD_LEN
    return f"""
    WITH toks AS (
      SELECT doc_id, ascii(w) * 31 + length(w) AS tok, ord
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) AS ord
            FROM documents)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST((ord - 1) // {L} AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST({L} - count(*) AS BIGINT) AS n_pad,
           CAST(sum(((ord - 1) % {L} + 1) * tok) AS BIGINT) AS checksum
    FROM toks
    GROUP BY doc_id, (ord - 1) // {L}
    """


# embedding near-dup LSH parameters — the operator's real operating point
# (8 tables x 8 sign bits, tau=0.9), shared between the Spark query and
# the generated DuckDB oracle: the CANDIDATE SET, not just the cosines, is
# engine-identical by construction. The synthetic embeddings have no true
# near-dups (unit-norm, max pairwise cos ~0.55), so the query plants them
# deterministically: each vector is unioned with a perturbed copy
# v' = v + EPS * noise_v, with noise_v a per-vector pseudo-uniform [-1,1)
# vector (the dim index is mixed with vec_id so different vectors get
# independent noise) — |noise| ~ sqrt(64/3) = 4.6, so cos(v, v') ~
# 1/sqrt(1 + (EPS*4.6)^2) ~ 0.95, while perturbed copies of DIFFERENT
# vectors stay near the base similarity (< 0.6). Same exact arithmetic on
# both engines; the miner must recover the planted pairs through the
# banded (non-cartesian) path.
_NDP_TABLES, _NDP_BITS, _NDP_TAU = 8, 8, 0.9
_NDP_EPS = 0.07
_NDP_NOISE_SEED = 777
_NDP_ID_OFFSET = 1_000_000
# noise index stride per vec_id: distinct vectors draw disjoint index
# streams; ndp_component pre-reduces the index mod P, so arbitrarily large
# vec_id * stride stays overflow-safe on both engines
_NDP_ID_MIX = 4_099


def q_embedding_near_dup(spark, sf_dir):
    """embedding-cosine near-dup pairs via multi-table hyperplane banding —
    the scale path (no CartesianProduct; candidate cost is per-bucket, not
    corpus^2). Candidates collide in >= 1 of 8 signature tables; exact
    cosine runs once per distinct candidate pair."""
    from htrc_feature_reader_spark.operators.similarity import (
        dim_indices, near_dup_pairs, ndp_component, ndp_plane_coeffs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    na, nb = ndp_plane_coeffs(1, 1, seed=_NDP_NOISE_SEED)[0]
    noise = F.transform(
        dim_indices(F.col("embedding")),
        lambda i: ndp_component(na, nb, i + F.col("vec_id") * _NDP_ID_MIX),
    )
    orig = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # offset the id in a SECOND select: naming the offset id `vec_id` in the
    # same list would lateral-alias-capture the `vec_id` reference inside the
    # noise lambda (Spark resolves later select-list references against
    # earlier aliases first) and perturb with the wrong per-vector noise
    pert = emb.select(
        "vec_id",
        F.zip_with(
            "embedding", noise, lambda x, c: x.cast("double") + F.lit(_NDP_EPS) * c
        ).alias("embedding"),
    ).select((F.col("vec_id") + _NDP_ID_OFFSET).alias("vec_id"), "embedding")
    pairs = near_dup_pairs(
        orig.unionByName(pert), threshold=_NDP_TAU,
        n_tables=_NDP_TABLES, band_bits=_NDP_BITS, seed=_MH_SEED,
    )
    return pairs.select("id_a", "id_b", F.round("cos", 4).alias("cos4"))


_STOPWORDS = ("the", "a", "of", "and", "to")


def q_stopword_filter(spark, sf_dir):
    """R3: stopword removal via broadcast left-anti join."""
    from htrc_feature_reader_spark.operators.vocab import remove_stopwords

    tl = _doc_tokens(spark, sf_dir)
    sw = spark.createDataFrame([(w,) for w in _STOPWORDS], "token string")
    out = remove_stopwords(tl, sw)
    return out.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))


# chunked-tokenlist parameters: a finer synthetic page (8 tokens) makes the
# ~54-word documents span ~7 pages, so target=20 yields 1-6 chunks per doc —
# the chunking scan (W1), chunk aggregation (A9/A10), and label/bounds joins
# (J1/J2) all do real work under the driver's value-hash signal
_CHUNK_PAGE = 8
_CHUNK_T = 20


def _chunk_page_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-(doc, page) word counts for _chunk_tokens' fixed
    positional pages: page p holds positions [(p-1)*B, p*B), so its count
    is min(B, n_words - (p-1)*B) — bit-identical to aggregating the
    exploded token table, with no second evaluation of the explode+fold
    subplan (the page_counts seam on chunked_tokenlist; guide §8)."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("__n")
    )
    pages = F.sequence(
        F.lit(1).cast("long"),
        F.ceil(F.col("__n") / F.lit(_CHUNK_PAGE)).cast("long"),
    )
    return staged.select(
        "doc_id", F.explode(pages).alias("page"), "__n"
    ).select(
        "doc_id",
        "page",
        F.least(
            F.lit(_CHUNK_PAGE).cast("long"),
            (F.col("__n") - (F.col("page") - 1) * _CHUNK_PAGE).cast("long"),
        ).alias("count"),
    )


def _chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, page, token, count) with the finer page size."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    ).select(
        "doc_id",
        (F.floor(F.col("pos") / _CHUNK_PAGE) + 1).alias("page"),
        "token",
        F.lit(1).cast("long").alias("count"),
    )


def q_section_group(spark, sf_dir):
    """S4/A5 under the driver signal: a per-(doc, page, section) scalar
    feature table (sections derived deterministically from token position:
    every 7th token is 'header', every 7th+6 'footer', rest 'body'), folded
    across sections with fold_section_features(section='group')."""
    from htrc_feature_reader_spark.operators.sections import fold_section_features

    tl = _doc_tokens(spark, sf_dir)
    sec = (
        F.when(F.pmod(F.col("tok_idx"), F.lit(7)) == 0, F.lit("header"))
        .when(F.pmod(F.col("tok_idx"), F.lit(7)) == 6, F.lit("footer"))
        .otherwise(F.lit("body"))
    )
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("tok_idx", "token")
    ).select(
        "doc_id",
        (F.floor(F.col("tok_idx") / PAGE_SIZE) + 1).alias("page"),
        sec.alias("section"),
        "token",
    )
    feats = toks.groupBy("doc_id", "page", "section").agg(
        F.count(F.lit(1)).alias("tokenCount"),
        F.countDistinct("token").alias("lineCount"),
    )
    out = fold_section_features(feats, section="group", doc_col="doc_id")
    return out.select("doc_id", "page", "tokenCount", "lineCount")


def q_chunked_tokenlist(spark, sf_dir):
    """Size-targeted chunking end-to-end: per-doc sequential chunk labels
    (applyInPandas over per-page counts — tiny groups, parallel across
    docs), broadcast label join back onto the fact table, regroup by chunk,
    per-chunk page bounds. Strategy 'last' (exact target, final chunk takes
    the slack) — replayed exactly by the oracle's recursive CTE."""
    from htrc_feature_reader_spark.operators.chunking import chunked_tokenlist

    tl = _chunk_tokens(spark, sf_dir)
    out = chunked_tokenlist(
        tl, chunk_target=_CHUNK_T, overflow_strategy="last", page_ref=True,
        doc_col="doc_id", case=True, pos=False,
        page_counts=_chunk_page_counts(spark, sf_dir),
    )
    return out.select(
        "doc_id", "chunk", "token", F.col("count").alias("cnt"),
        "pstart", "pend",
    )


def q_chunked_tokenlist_ends(spark, sf_dir):
    """The reference's DEFAULT chunking strategy 'ends' (two-sided scan,
    'mids' rebalancing — reference feature_reader.py:751) end-to-end,
    replayed exactly by the _chunked_two_sided_sql recursive CTE."""
    from htrc_feature_reader_spark.operators.chunking import chunked_tokenlist

    tl = _chunk_tokens(spark, sf_dir)
    out = chunked_tokenlist(
        tl, chunk_target=_CHUNK_T, overflow_strategy="ends", page_ref=True,
        doc_col="doc_id", case=True, pos=False,
        page_counts=_chunk_page_counts(spark, sf_dir),
    )
    return out.select(
        "doc_id", "chunk", "token", F.col("count").alias("cnt"),
        "pstart", "pend",
    )


def q_chunked_tokenlist_even(spark, sf_dir):
    """Chunking strategy 'even' (two-sided, slack spread every pass),
    same recursive-CTE oracle family with balance-always."""
    from htrc_feature_reader_spark.operators.chunking import chunked_tokenlist

    tl = _chunk_tokens(spark, sf_dir)
    out = chunked_tokenlist(
        tl, chunk_target=_CHUNK_T, overflow_strategy="even", page_ref=True,
        doc_col="doc_id", case=True, pos=False,
        page_counts=_chunk_page_counts(spark, sf_dir),
    )
    return out.select(
        "doc_id", "chunk", "token", F.col("count").alias("cnt"),
        "pstart", "pend",
    )


def q_multimodal_meta(spark, sf_dir):
    """binary payload plumbing: metadata-only plan over an opaque payload."""
    docs = _t(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return payloads.select(
        "doc_id", F.octet_length("payload").cast("long").alias("n_bytes")
    )


def _rt_path(sf_dir: str, kind: str) -> str:
    """Deterministic scratch dir for a round-trip query (overwrite mode
    makes re-runs idempotent; one dir per (kind, sf) so queries never
    collide)."""
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_rt_{os.getuid()}_{kind}_{tag}"
    )


def q_quad_roundtrip(spark, sf_dir):
    """S7/S8 under the driver's hard signal: write the documents-derived
    tokenlist to the parquet quad layout (sort-for-compression on), read
    it back, return the full long table — hash equality against the
    oracle computed directly on `documents` proves sink -> scan lossless
    (sources/parquet_quad.py; reference parsers.py:476-586)."""
    from htrc_feature_reader_spark.sources.parquet_quad import read_quad, write_quad

    tl = (
        _doc_tokens(spark, sf_dir)
        .groupBy("doc_id", "page", "token")
        .agg(F.sum("count").alias("count"))
        .withColumnRenamed("doc_id", "htid")
    )
    path = _rt_path(sf_dir, "quad")
    write_quad(path, tokenlist=tl)
    back = read_quad(spark, path)
    return back.select(
        F.col("htid").alias("doc_id"), "page", "token", "count"
    )


def q_quad_prefold_roundtrip(spark, sf_dir):
    """S8's fold-before-save path (reference 'partialparq' shape,
    parsers.py:505-506): write_quad(token_kwargs=...) pre-folds case and
    pages away; the re-read partial table hash-matches the oracle's
    direct lowercase fold."""
    from htrc_feature_reader_spark.sources.parquet_quad import read_quad, write_quad

    tl = (
        _doc_tokens(spark, sf_dir)
        .groupBy("doc_id", "page", "token")
        .agg(F.sum("count").alias("count"))
        .withColumnRenamed("doc_id", "htid")
    )
    path = _rt_path(sf_dir, "quad_prefold")
    write_quad(path, tokenlist=tl,
               token_kwargs=dict(case=False, pos=False, pages=False,
                                 doc_col="htid"))
    back = read_quad(spark, path)
    return back.select(
        F.col("htid").alias("doc_id"), "lowercase", "count"
    )


def q_ef_json_roundtrip(spark, sf_dir):
    """S1/S2/S9 composed: documents-derived tokenlist -> nested EF v3.0
    NDJSON (sources/ef_json_sink.py) -> re-ingest with the explicit schema
    (sources/ef_json.py) -> long table. ingest∘sink == identity, checked
    cell-exact by the driver hash (the reference's write() is a byte copy,
    parsers.py:252-272; this is the engine's semantic equivalent)."""
    from htrc_feature_reader_spark.sources.ef_json import (
        read_ef_json,
        tokenlist_from_ef,
    )
    from htrc_feature_reader_spark.sources.ef_json_sink import write_ef_json

    tl = (
        _doc_tokens(spark, sf_dir)
        .groupBy("doc_id", "page", "token")
        .agg(F.sum("count").alias("count"))
        .select(
            F.col("doc_id").cast("string").alias("htid"),
            "page",
            F.lit("body").alias("section"),
            "token",
            F.lit("UNK").alias("pos"),
            "count",
        )
    )
    path = _rt_path(sf_dir, "efjson")
    write_ef_json(path, tokenlist=tl)
    back = tokenlist_from_ef(read_ef_json(spark, path))
    return back.select(
        F.col("htid").cast("bigint").alias("doc_id"), "page", "token", "count"
    )


def q_metadata_roundtrip(spark, sf_dir):
    """S6 under the driver's hard signal: synthesize per-volume metadata
    from `documents`, sink it inside nested EF JSON (ef_json_sink), then
    re-extract with the full variant-based field walk (volumes_from_ef,
    reference parsers.py:145-174). Hash equality vs the oracle recomputing
    the same fields straight from documents proves sink -> metadata
    extraction faithful for every field the sink carries."""
    from htrc_feature_reader_spark.sources.ef_json import (
        read_ef_json,
        volumes_from_ef,
    )
    from htrc_feature_reader_spark.sources.ef_json_sink import write_ef_json

    docs = _t(spark, sf_dir, "documents")
    doc_s = F.col("doc_id").cast("string")
    vols = docs.select(
        doc_s.alias("htid"),
        F.concat(F.lit("Doc "), doc_s).alias("title"),
        (F.pmod(F.col("doc_id"), F.lit(100)) + 1900).cast("string").alias("pub_date"),
        F.col("lang").alias("language"),
        F.array(F.col("source")).alias("names"),
        F.array(F.lit("fiction"), F.lit("not fiction")).alias("genre"),
        F.col("source").alias("source_institution"),
        F.lit("open").alias("access_profile"),
        # 1.3-era + all-era optional fields (full sink field map)
        F.concat(F.lit("https://example.org/bib/"), doc_s).alias("ht_bib_url"),
        F.concat(F.lit("hdl/2027/"), doc_s).alias("handle_url"),
        F.concat(F.lit("Imprint "), F.pmod(F.col("doc_id"), F.lit(7)).cast("string")).alias("imprint"),
        F.array(F.concat(F.lit("isbn-"), doc_s)).alias("isbn"),
        F.array(F.concat(F.lit("oclc-"), doc_s)).alias("oclc"),
        F.lit("monographic").alias("issuance"),
        F.lit("BK").alias("bibliographic_format"),
        (F.pmod(F.col("doc_id"), F.lit(2)) == 0).alias("government_document"),
        F.lit("pd").alias("rights_attributes"),
        F.lit("xx").alias("pub_place"),
        F.lit("text").alias("type_of_resource"),
        (F.pmod(F.col("doc_id"), F.lit(100)) + 1900).cast("string").alias("date_created"),
        F.concat(F.lit("v."), F.pmod(F.col("doc_id"), F.lit(5)).cast("string")).alias("enumeration_chronology"),
    )
    tiny_tl = docs.select(
        F.col("doc_id").cast("string").alias("htid"),
        F.lit(1).cast("long").alias("page"),
        F.lit("body").alias("section"),
        F.lit("tok").alias("token"),
        F.lit("UNK").alias("pos"),
        F.lit(1).cast("long").alias("count"),
    )
    path = _rt_path(sf_dir, "meta")
    write_ef_json(path, tokenlist=tiny_tl, volumes=vols)
    back = volumes_from_ef(read_ef_json(spark, path))
    return back.select(
        F.col("htid").cast("bigint").alias("doc_id"),
        "title",
        "pub_date",
        "language",
        F.array_join("names", ",").alias("names_csv"),
        F.array_join("genre", ",").alias("genre_csv"),
        "source_institution",
        "access_profile",
        F.col("page_count").cast("bigint").alias("page_count"),
        "ht_bib_url",
        "handle_url",
        "imprint",
        F.array_join("isbn", ",").alias("isbn_csv"),
        F.array_join("oclc", ",").alias("oclc_csv"),
        "issuance",
        "bibliographic_format",
        "government_document",
        "rights_attributes",
        "pub_place",
        "type_of_resource",
        "date_created",
        "enumeration_chronology",
    )


def q_section_features_roundtrip(spark, sf_dir):
    """S4/A5/F4 composed under the driver's hard signal: deterministic
    per-(doc, page, section) scalar features -> EF JSON sink -> re-extract
    (section_features_from_ef) -> 'group' fold summing body+header per
    page. Cell-exact vs the oracle recomputing the same formulas."""
    from htrc_feature_reader_spark.operators.sections import fold_section_features
    from htrc_feature_reader_spark.sources.ef_json import (
        read_ef_json,
        section_features_from_ef,
    )
    from htrc_feature_reader_spark.sources.ef_json_sink import write_ef_json

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("page"),
    )
    d, p = F.col("doc_id"), F.col("page").cast("long")

    def feats(section, m1, m2):
        return base.select(
            F.col("doc_id").cast("string").alias("htid"),
            "page",
            F.lit(section).alias("section"),
            F.pmod(d * m1 + p, F.lit(100)).alias("tokenCount"),
            F.pmod(d + p * m2, F.lit(50)).alias("lineCount"),
            F.pmod(p * m1, F.lit(5)).alias("emptyLineCount"),
            F.pmod(d * m2 + p, F.lit(30)).alias("sentenceCount"),
            F.pmod(d + p + m1, F.lit(9)).alias("capAlphaSeq"),
        )

    sec_feats = feats("body", 7, 3).unionByName(feats("header", 5, 2))
    # tokens must exist wherever features do: the sink emits a section
    # struct only for (htid, page, section) keys present in the tokenlist
    tl = sec_feats.select(
        "htid", "page", "section",
        F.lit("tok").alias("token"), F.lit("UNK").alias("pos"),
        F.lit(1).cast("long").alias("count"),
    )
    path = _rt_path(sf_dir, "secfeat")
    write_ef_json(path, tokenlist=tl, section_features=sec_feats)
    back = section_features_from_ef(read_ef_json(spark, path))
    out = fold_section_features(back, section="group", doc_col="htid")
    return out.select(
        F.col("htid").cast("bigint").alias("doc_id"),
        F.col("page").cast("bigint").alias("page"),
        *[F.col(c).cast("bigint").alias(c) for c in (
            "tokenCount", "lineCount", "emptyLineCount",
            "sentenceCount", "capAlphaSeq",
        )],
    )


def q_line_chars_roundtrip(spark, sf_dir):
    """S3 + the sink's char-map path: deterministic begin/end line-char
    counts -> EF JSON (beginCharCounts/endCharCount maps) -> re-extract
    (line_chars_from_ef) -> place-'group' fold. Cell-exact."""
    from htrc_feature_reader_spark.operators.linechars import fold_linechars
    from htrc_feature_reader_spark.sources.ef_json import (
        line_chars_from_ef,
        read_ef_json,
    )
    from htrc_feature_reader_spark.sources.ef_json_sink import write_ef_json

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("page"),
    ).select(  # one generator per select list
        "doc_id", "page",
        F.explode(F.array(F.lit("a"), F.lit("b"), F.lit("z"))).alias("char"),
    )
    d, p = F.col("doc_id"), F.col("page").cast("long")
    ch = F.ascii("char").cast("long")

    def chars(place, m):
        return base.select(
            F.col("doc_id").cast("string").alias("htid"),
            "page",
            F.lit("body").alias("section"),
            F.lit(place).alias("place"),
            "char",
            (F.pmod(d * m + p + ch, F.lit(40)) + 1).alias("count"),
        )

    lc = chars("begin", 3).unionByName(chars("end", 11))
    tl = lc.select(
        "htid", "page", "section",
        F.lit("tok").alias("token"), F.lit("UNK").alias("pos"),
        F.lit(1).cast("long").alias("count"),
    ).distinct()
    path = _rt_path(sf_dir, "linechars")
    write_ef_json(path, tokenlist=tl, line_chars=lc)
    back = line_chars_from_ef(read_ef_json(spark, path))
    out = fold_linechars(back, section="all", place="group", doc_col="htid")
    return out.select(
        F.col("htid").cast("bigint").alias("doc_id"),
        F.col("page").cast("bigint").alias("page"),
        "char",
        F.col("count").cast("bigint").alias("count"),
    )


def q_page_features_roundtrip(spark, sf_dir):
    """S5: per-page scalars (version / calculatedLanguage / languages)
    through the sink and back out via page_features_from_ef."""
    from htrc_feature_reader_spark.sources.ef_json import (
        page_features_from_ef,
        read_ef_json,
    )
    from htrc_feature_reader_spark.sources.ef_json_sink import write_ef_json

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    base = docs.select(
        "doc_id", "lang",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("page"),
    )
    pf = base.select(
        F.col("doc_id").cast("string").alias("htid"),
        "page",
        F.concat(F.lit("v"), F.pmod(F.col("doc_id"), F.lit(4)).cast("string")).alias("version"),
        F.col("lang").alias("calculatedLanguage"),
        # EF schema: languages is a list of {lang: prob} maps
        F.array(F.create_map(F.col("lang"), F.lit("1.0"))).alias("languages"),
    )
    tl = pf.select(
        "htid", "page", F.lit("body").alias("section"),
        F.lit("tok").alias("token"), F.lit("UNK").alias("pos"),
        F.lit(1).cast("long").alias("count"),
    )
    path = _rt_path(sf_dir, "pagefeat")
    write_ef_json(path, tokenlist=tl, page_features=pf)
    back = page_features_from_ef(read_ef_json(spark, path))
    return back.select(
        F.col("htid").cast("bigint").alias("doc_id"),
        F.col("page").cast("bigint").alias("page"),
        "version",
        F.col("calculatedLanguage").alias("calc_lang"),
        F.array_join(
            F.transform(
                "languages",
                lambda m: F.concat(
                    F.element_at(F.map_keys(m), 1), F.lit(":"),
                    F.element_at(F.map_values(m), 1),
                ),
            ),
            ",",
        ).alias("languages_csv"),
    )


def q_training_pipeline(spark, sf_dir):
    """The composed training-corpus cleaning pipeline
    (operators/pipeline.py:clean_corpus): quality filter -> exact dedup
    (keep-min per md5 digest) -> MinHash-LSH near-dup removal (keep-min
    per candidate pair) -> token counting — ONE lazy plan. The oracle
    replays the entire funnel, including the LSH candidate set, via the
    shared exact-integer hash family."""
    from htrc_feature_reader_spark.operators.pipeline import CleanConfig, clean_corpus

    docs = _t(spark, sf_dir, "documents")
    out = clean_corpus(docs, CleanConfig())
    return out.select(
        "doc_id", "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
    )


def _ds_cte(stop_cap: bool) -> str:
    """The shingle-id CTE body for _pipeline_sql: with the >50%-df stop
    cap (one-shot default) or a plain pass-through (incremental rule)."""
    if stop_cap:
        return """
        SELECT ds0.doc_id, ds0.sid FROM ds0
        ANTI JOIN (
          SELECT sid FROM ds0 GROUP BY sid
          HAVING count(*) > 0.5 * (SELECT count(DISTINCT doc_id) FROM ds0)
        ) stop USING (sid)"""
    return "SELECT doc_id, sid FROM ds0"


def _pipeline_sql(stop_cap: bool = True, threshold: float = 0.5) -> str:
    """Oracle for q_training_pipeline: the full funnel in one query —
    quality thresholds (CleanConfig defaults), keep-min exact dedup,
    then the engine's exact minhash/LSH chain over the SURVIVORS (same
    hash-then-cap order as _minhash_sql), candidate pairs VERIFIED by the
    signature-estimated Jaccard (matching positions / n_hashes >= 0.5 —
    CleanConfig.near_dup_threshold) before the larger id is dropped.

    Parametrized for its second caller, _incremental_clean_sql: the
    incremental path forbids the corpus-frequency stop cap (batch-
    dependent; ``stop_cap=False`` keeps every shingle) and the driver
    query runs it at ``threshold=0.25``. Defaults reproduce the
    q_training_pipeline oracle unchanged."""
    match_sum = " + ".join(
        f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(_MH_N)
    )
    sid = rolling_hash_sql("shingle")
    return rf"""
      WITH q AS (
        SELECT doc_id, text, lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
               (length(text) - len(string_split_regex(text, '\s+')) + 1) /
                 greatest(len(string_split_regex(text, '\s+')), 1) AS atl,
               len(list_distinct(string_split_regex(text, '\s+'))) /
                 greatest(len(string_split_regex(text, '\s+')), 1) AS dr,
               len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1) AS pr
        FROM documents),
      kept AS (
        SELECT * FROM q
        WHERE n_chars >= 50 AND n_tokens >= 10 AND atl <= 12.0
          AND dr >= 0.2 AND pr <= 0.30),
      surv AS (
        SELECT k.* FROM kept k
        JOIN (SELECT md5(text) AS dg, min(doc_id) AS keep_id
              FROM kept GROUP BY 1) d
          ON k.doc_id = d.keep_id),
      shs AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(0, greatest(len(l) - 2, 0)),
                                     i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM surv)),
      ds0 AS (SELECT DISTINCT doc_id, {sid} AS sid FROM shs),
      ds AS ({_ds_cte(stop_cap)}),
      mh AS (SELECT doc_id, {_SQL_MH_HASHES} FROM ds GROUP BY doc_id),
      dropped AS (
        SELECT DISTINCT b.doc_id AS doc_id
        FROM mh a JOIN mh b ON a.doc_id < b.doc_id AND ({_SQL_MH_BANDS})
        WHERE ({match_sum}) / {_MH_N}.0 >= {threshold}),
      final AS (SELECT * FROM surv ANTI JOIN dropped USING (doc_id))
      SELECT doc_id, lang, n_chars, n_tokens,
             n_tokens AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
      FROM final
    """


def q_incremental_clean(spark, sf_dir):
    """Incremental clean_corpus (operators/pipeline.py:ingest_clean_batch):
    three ascending-doc_id batches, each quality-filtered, exact-deduped
    against the digest store, near-dup-suppressed against the signature
    store, then recorded. With id-ordered batches, no corpus-frequency
    stop cap (forbidden incrementally — the config's cap is neutralized
    at frac=1.0 one-shot), and 'pairs' survivorship, the result equals
    the one-shot funnel — which is what the oracle computes, so the
    two-store composition is value-checked end to end."""
    import shutil

    from htrc_feature_reader_spark.operators.pipeline import (
        CleanConfig, ingest_clean_batch)

    dp = _rt_path(sf_dir, "clean_dig")
    sp = _rt_path(sf_dir, "clean_sig")
    outd = _rt_path(sf_dir, "clean_out")
    for p in (dp, sp, outd):
        shutil.rmtree(p, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents")
    cfg = CleanConfig(stop_shingle_frac=1.0, near_dup_threshold=0.25)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    step = (int(hi) - int(lo)) // 3 + 1
    for k in range(3):
        b = docs.filter(
            (F.col("doc_id") >= lo + k * step)
            & (F.col("doc_id") < lo + (k + 1) * step)
        )
        ingest_clean_batch(b, dp, sp, cfg, out_path=outd)
    return spark.read.parquet(outd).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
    )


def _incremental_clean_sql() -> str:
    """Oracle for q_incremental_clean: the one-shot funnel with the stop
    cap off and the driver query's 0.25 verification threshold."""
    return _pipeline_sql(stop_cap=False, threshold=0.25)


def q_unigram_logprob(spark, sf_dir):
    """Unigram LM quality score (operators/text.py:unigram_logprob,
    CCNet-style perplexity filter): per doc, mean bits of its whitespace
    token instances under the corpus's own unigram MLE. The token-
    frequency join is unhinted (unbounded vocabulary — same contract as
    tf_idf); only the 1-row total funnel is broadcast."""
    from htrc_feature_reader_spark.operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("bits_per_token", 9).alias("bpt9"),
    )


def _unigram_logprob_sql() -> str:
    return r"""
      WITH toks AS (
        SELECT doc_id, t AS token FROM (
          SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
          FROM documents)
        WHERE t <> ''),
      cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
      tot AS (SELECT count(*) AS total FROM toks)
      SELECT CAST(toks.doc_id AS BIGINT) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(-log2(CAST(c AS DOUBLE) / total)), 9) AS bpt9
      FROM toks JOIN cnt USING (token) CROSS JOIN tot
      GROUP BY toks.doc_id
    """


def q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty (operators/dedup.py:ngram_novelty): the
    fraction of each doc's distinct word 3-grams occurring in no other
    document. The df aggregation and the join back share the shingle_id
    exchange; the oracle replays the identical rolling-hash ids so any
    collision changes both engines the same way."""
    from htrc_feature_reader_spark.operators.dedup import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.round("novelty_frac", 9).alias("novelty9"),
    )


def _ngram_novelty_sql() -> str:
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH sh AS ({_SQL_SHINGLES}),
      ds AS (SELECT DISTINCT doc_id, {sid} AS sid FROM sh),
      dfq AS (SELECT sid, count(*) AS df FROM ds GROUP BY sid)
      SELECT CAST(ds.doc_id AS BIGINT) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*), 9) AS novelty9
      FROM ds JOIN dfq USING (sid)
      GROUP BY ds.doc_id
    """


def q_source_overlap(spark, sf_dir):
    """Cross-source n-gram contamination summary (operators/stats.py:
    source_ngram_overlap): per source, the share of its distinct word
    3-gram vocabulary present in >= 2 sources. The shingle set is keyed
    by source directly — no doc-level intermediate, no reattach join."""
    from htrc_feature_reader_spark.operators.stats import source_ngram_overlap

    docs = _t(spark, sf_dir, "documents")
    return source_ngram_overlap(docs).select(
        "source",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round("shared_frac", 9).alias("shared9"),
    )


def _source_overlap_sql() -> str:
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH sh AS (
        SELECT DISTINCT source,
               unnest(list_transform(range(0, greatest(len(l) - 2, 0)),
                                     i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS shingle
        FROM (SELECT source, string_split(text, ' ') AS l FROM documents)),
      ds AS (SELECT DISTINCT source, {sid} AS sid FROM sh),
      spans AS (SELECT sid, count(*) AS ns FROM ds GROUP BY sid)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             round(CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*), 9) AS shared9
      FROM ds JOIN spans USING (sid)
      GROUP BY source
    """


def q_trailing_features(spark, sf_dir):
    """Trailing event-time-horizon rollups (operators/features.py:
    trailing_window_features): per sequence row, events and token mass in
    the trailing 1h / 1d as of the row's timestamp (SQL-standard
    inclusive range frame — nothing later than the as-of instant). All
    horizons share ONE exchange + sort (plan-tested); exact int64."""
    from htrc_feature_reader_spark.operators.features import (
        trailing_window_features,
    )

    seqs = _sequences_from_events(spark, sf_dir).drop("tokens")
    out = trailing_window_features(
        seqs, doc_col="doc_key", ts_col="ts",
        horizons_s={"1h": 3600.0, "1d": 86400.0}, value_col="n_tok",
        payload_cols=(),
    )
    return out.select(
        "doc_key", "event_id",
        "trail_n_1h", "trail_n_tok_1h", "trail_n_1d", "trail_n_tok_1d",
    )


def _trailing_features_sql() -> str:
    return f"""
      WITH seq AS ({_SQL_SEQUENCES})
      SELECT doc_key, event_id,
             CAST(count(*) OVER w1 AS BIGINT) AS trail_n_1h,
             CAST(sum(n_tok) OVER w1 AS BIGINT) AS trail_n_tok_1h,
             CAST(count(*) OVER w2 AS BIGINT) AS trail_n_1d,
             CAST(sum(n_tok) OVER w2 AS BIGINT) AS trail_n_tok_1d
      FROM seq
      WINDOW w1 AS (PARTITION BY doc_key ORDER BY epoch_us(ts)
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY doc_key ORDER BY epoch_us(ts)
                    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    """


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/selection.py:dsir_weights, Xie
    et al. 2023): hashed word 1+2-gram bucket multinomials fit on the raw
    corpus vs an English-only target slice; per raw doc the summed
    log-likelihood ratio. The <= n_buckets-row ratio table is broadcast —
    bounded by CONSTRUCTION (caller parameter), the deliberate contrast
    with tf_idf's unbounded unhinted vocabulary. The oracle replays the
    identical rolling-hash bucketing."""
    from htrc_feature_reader_spark.operators.selection import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    out = dsir_weights(docs, target, n_buckets=4096)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_feats").cast("long").alias("n_feats"),
        F.round("logw", 9).alias("logw9"),
    )


_DSIR_BUCKETS = 4096


def _dsir_buckets_cte(pred: str = "TRUE") -> str:
    """Bucket instances (doc_id, bucket) of word 1+2-grams, replaying
    hashed_ngram_buckets bit-for-bit."""
    from htrc_feature_reader_spark.operators.selection import ngram_buckets_sql

    expr = ngram_buckets_sql(n_buckets=_DSIR_BUCKETS, ngrams=(1, 2))
    return f"""
      SELECT doc_id, unnest({expr}) AS bucket
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS l
            FROM documents WHERE {pred})
    """


def _dsir_weights_sql() -> str:
    b = _DSIR_BUCKETS
    return f"""
      WITH rb AS ({_dsir_buckets_cte()}),
      tb AS ({_dsir_buckets_cte("lang = 'en'")}),
      rc AS (SELECT bucket, count(*) AS c_raw FROM rb GROUP BY bucket),
      tc AS (SELECT bucket, count(*) AS c_tgt FROM tb GROUP BY bucket),
      dist AS (
        SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
               COALESCE(c_raw, 0) AS c_raw, COALESCE(c_tgt, 0) AS c_tgt
        FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket),
      tot AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM dist),
      ratio AS (
        SELECT bucket,
               ln((c_tgt + 1.0) / (t_tgt + 1.0 * {b}))
               - ln((c_raw + 1.0) / (t_raw + 1.0 * {b})) AS lr
        FROM dist CROSS JOIN tot),
      per AS (
        SELECT rb.doc_id, count(*) AS n_feats, sum(lr) AS logw
        FROM rb JOIN ratio USING (bucket) GROUP BY rb.doc_id)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
             round(COALESCE(logw, 0.0), 9) AS logw9
      FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """


_RESAMPLE_K = 60
_RESAMPLE_SEED = 11


def q_importance_resample(spark, sf_dir):
    """Gumbel top-k importance resampling (operators/selection.py:
    importance_resample): k docs without replacement, probability
    proportional to exp(logw), seed-pure — the 'randomness' is the shared
    mix(key_hash(id)) integer family, so the oracle replays the exact
    draw. Weights here are the DSIR weights of q_dsir_weights."""
    from htrc_feature_reader_spark.operators.selection import (
        dsir_weights,
        importance_resample,
    )

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    w = dsir_weights(docs, target, n_buckets=_DSIR_BUCKETS)
    out = importance_resample(w, k=_RESAMPLE_K, seed=_RESAMPLE_SEED)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("gumbel_key", 9).alias("gkey9"),
    )


def _importance_resample_sql() -> str:
    from htrc_feature_reader_spark.operators.selection import gumbel_key_sql

    key = gumbel_key_sql("doc_id", "logw", _RESAMPLE_SEED)
    return f"""
      WITH rb AS ({_dsir_buckets_cte()}),
      tb AS ({_dsir_buckets_cte("lang = 'en'")}),
      rc AS (SELECT bucket, count(*) AS c_raw FROM rb GROUP BY bucket),
      tc AS (SELECT bucket, count(*) AS c_tgt FROM tb GROUP BY bucket),
      dist AS (
        SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
               COALESCE(c_raw, 0) AS c_raw, COALESCE(c_tgt, 0) AS c_tgt
        FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket),
      tot AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM dist),
      ratio AS (
        SELECT bucket,
               ln((c_tgt + 1.0) / (t_tgt + 1.0 * {_DSIR_BUCKETS}))
               - ln((c_raw + 1.0) / (t_raw + 1.0 * {_DSIR_BUCKETS})) AS lr
        FROM dist CROSS JOIN tot),
      per AS (
        SELECT rb.doc_id, sum(lr) AS logw
        FROM rb JOIN ratio USING (bucket) GROUP BY rb.doc_id),
      w AS (
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
               COALESCE(logw, 0.0) AS logw
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id)
      SELECT doc_id, round({key}, 9) AS gkey9
      FROM w ORDER BY {key} DESC LIMIT {_RESAMPLE_K}
    """


def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram LM scoring (operators/text.py:bigram_logprob):
    per doc, mean bits of its word transitions under lam*MLE-bigram +
    (1-lam)*MLE-unigram, self-trained in the same lazy plan. All three
    count joins are unhinted (unbounded vocabulary, AQE decides)."""
    from htrc_feature_reader_spark.operators.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs, lam=0.9).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_trans").cast("long").alias("n_trans"),
        F.round("bits_per_trans", 9).alias("bpt9"),
    )


def _bigram_logprob_sql() -> str:
    return r"""
      WITH w AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
        FROM documents),
      toks AS (SELECT doc_id, unnest(l) AS cur FROM w),
      uni AS (SELECT cur, count(*) AS c_uni FROM toks GROUP BY cur),
      tot AS (SELECT count(*) AS n FROM toks),
      tr AS (
        SELECT doc_id, l[i+1] AS prev, l[i+2] AS cur
        FROM (SELECT doc_id, l,
                     unnest(range(0, greatest(len(l) - 1, 0))) AS i
              FROM w)),
      big AS (SELECT prev, cur, count(*) AS c_big FROM tr GROUP BY prev, cur),
      ctx AS (SELECT prev, count(*) AS c_ctx FROM tr GROUP BY prev),
      scored AS (
        SELECT tr.doc_id, count(*) AS n_trans,
               avg(-log2(0.9 * (c_big * 1.0 / c_ctx)
                         + (1.0 - 0.9) * (c_uni * 1.0 / n))) AS bits
        FROM tr JOIN big USING (prev, cur) JOIN ctx USING (prev)
             JOIN uni USING (cur) CROSS JOIN tot
        GROUP BY tr.doc_id)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             CAST(COALESCE(n_trans, 0) AS BIGINT) AS n_trans,
             round(bits, 9) AS bpt9
      FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
    """


def q_token_drift(spark, sf_dir):
    """Per-source token-distribution drift (operators/stats.py:
    token_drift): smoothed KL(p_source || p_corpus) over the token-id
    vocabulary of the north-rule sequences, absent-token mass folded in
    CLOSED FORM (no #sources x V cross join — see the operator
    docstring). The oracle computes the NAIVE full-vocabulary KL via an
    actual sources x vocab cross join — an independent derivation, so a
    bug in the closed-form algebra cannot cancel itself out."""
    from htrc_feature_reader_spark.operators.stats import token_drift

    seqs = _sequences_from_events(spark, sf_dir)
    return token_drift(seqs, alpha=1.0).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("v_present").cast("long").alias("v_present"),
        F.round("kl", 9).alias("kl9"),
    )


def _token_drift_sql() -> str:
    return f"""
      WITH seq AS ({_SQL_SEQUENCES}),
      toks AS (
        SELECT source,
               unnest(list_transform(range(0, CAST(n_tok AS INT)),
                 i -> (event_id * {_SEQ_MULT} + i * {_SEQ_STEP}) % {_SEQ_VOCAB})) AS tok
        FROM seq),
      ct AS (SELECT tok, count(*) AS c_t FROM toks GROUP BY tok),
      consts AS (SELECT sum(c_t) AS n, count(*) AS v FROM ct),
      st AS (SELECT source, tok, count(*) AS c_st FROM toks GROUP BY source, tok),
      stot AS (SELECT source, sum(c_st) AS n_s, count(*) AS v_s
               FROM st GROUP BY source),
      -- NAIVE full-vocab KL: every (source, vocab-token) pair, zero counts
      -- where the source never emitted the token
      grid AS (
        SELECT stot.source, stot.n_s, stot.v_s, ct.tok, ct.c_t,
               COALESCE(st.c_st, 0) AS c_st
        FROM stot CROSS JOIN ct
        LEFT JOIN st ON st.source = stot.source AND st.tok = ct.tok),
      terms AS (
        SELECT source, n_s, v_s,
               ((c_st + 1.0) / (n_s + 1.0 * v)) *
               (ln((c_st + 1.0) / (n_s + 1.0 * v))
                - ln((c_t + 1.0) / (n + 1.0 * v))) AS term
        FROM grid CROSS JOIN consts)
      SELECT source,
             CAST(n_s AS BIGINT) AS n_tokens,
             CAST(v_s AS BIGINT) AS v_present,
             round(sum(term), 9) AS kl9
      FROM terms GROUP BY source, n_s, v_s
    """


def q_range_join(spark, sf_dir):
    """Binned interval join (operators/ranges.py:range_join): every
    purchase within 6 hours (inclusive) after a signup by the same user.
    bin_width_s='auto' exercises the lazy 1-row mean-length funnel; the
    probe-interval join itself is a plain (user_id, bin) equi-join — no
    nested loop (plan-tested in tests/test_ranges.py)."""
    from htrc_feature_reader_spark.operators.ranges import range_join
    from htrc_feature_reader_spark.functions import ts_micros

    ev = _t(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start"),
        F.timestamp_micros(ts_micros("ts") + 6 * 3600 * 1_000_000).alias("end"),
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    joined = range_join(probe, intervals, keys=["user_id"], bin_width_s="auto")
    return joined.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("signup_id").cast("long").alias("signup_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.round("value", 2).alias("value2"),
        (ts_micros("ts") - ts_micros("start")).cast("long").alias("lag_us"),
    )


def _range_join_sql() -> str:
    return """
      SELECT CAST(p.user_id AS BIGINT) AS user_id,
             CAST(s.event_id AS BIGINT) AS signup_id,
             CAST(p.event_id AS BIGINT) AS purchase_id,
             round(p.value, 2) AS value2,
             CAST(epoch_us(p.ts) - epoch_us(s.ts) AS BIGINT) AS lag_us
      FROM events p
      JOIN events s
        ON p.user_id = s.user_id
       AND epoch_us(p.ts) >= epoch_us(s.ts)
       AND epoch_us(p.ts) <= epoch_us(s.ts) + 21600000000
      WHERE p.event_type = 'purchase' AND s.event_type = 'signup'
    """


def q_dup_spans(spark, sf_dir):
    """Span-granular duplicate coverage (operators/dedup.py:
    duplicated_spans, the Lee-et-al substring-dedup signal): per doc, the
    fraction of word positions covered by a 4-gram window occurring >= 2
    times corpus-wide (within-doc repeats included). The oracle replays
    the identical rolling-hash window ids and the same gaps-and-islands
    interval merge, so coverage agrees token-for-token."""
    from htrc_feature_reader_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, n=4, min_count=2).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_tokens",
        "dup_tokens",
        F.round("dup_frac", 9).alias("dup_frac9"),
    )


def _dup_spans_sql() -> str:
    sid = dual_hash_sql("shingle")
    return f"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      pos AS (
        SELECT doc_id, len(l) AS n_tokens,
               unnest(range(0, greatest(len(l) - 3, 0))) AS p, l
        FROM d),
      ids AS (
        SELECT doc_id, p, {sid} AS sidv FROM (
          SELECT doc_id, p,
                 l[p+1] || ' ' || l[p+2] || ' ' || l[p+3] || ' ' || l[p+4] AS shingle
          FROM pos)),
      cnt AS (SELECT sidv, count(*) AS c FROM ids GROUP BY sidv),
      hit AS (SELECT doc_id, p, p + 3 AS e
              FROM ids JOIN cnt USING (sidv) WHERE c >= 2),
      isl AS (
        SELECT doc_id, p, e,
               sum(CASE WHEN pm IS NULL OR p > pm THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p
                       ROWS UNBOUNDED PRECEDING) AS island
        FROM (SELECT doc_id, p, e,
                     max(e) OVER (PARTITION BY doc_id ORDER BY p
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pm
              FROM hit)),
      cov AS (SELECT doc_id, island, max(e) - min(p) + 1 AS cov
              FROM isl GROUP BY doc_id, island),
      per AS (SELECT doc_id, sum(cov) AS dup_tokens FROM cov GROUP BY doc_id)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             CAST(len(d.l) AS BIGINT) AS n_tokens,
             CAST(coalesce(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             round(CASE WHEN len(d.l) > 0
                        THEN CAST(coalesce(per.dup_tokens, 0) AS DOUBLE) / len(d.l)
                        ELSE 0.0 END, 9) AS dup_frac9
      FROM d LEFT JOIN per USING (doc_id)
    """


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style within-cluster embedding dedup (operators/
    similarity.py:semantic_dedup): per label cluster,
    a vector is a duplicate iff a smaller-id vector in the same cluster
    has round(cos, 6) >= 0.3 (the synthetic embeddings' within-label
    cosine tops out near 0.47, so 0.3 yields a mixed drop set). The
    pairwise pass is an equi self-join on the cluster column — bounded
    by cluster size, never corpus size."""
    from htrc_feature_reader_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "label", id_col="vec_id", vec_col="embedding", threshold=0.3
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        "is_dup",
        F.col("dup_of").cast("long").alias("dup_of"),
    )


def _semantic_dedup_sql() -> str:
    return """
      WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      edges AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3),
      los AS (SELECT idb, min(ida) AS dup_of FROM edges GROUP BY idb)
      SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
             CAST(e.label AS BIGINT) AS label,
             (los.dup_of IS NOT NULL) AS is_dup,
             CAST(los.dup_of AS BIGINT) AS dup_of
      FROM e LEFT JOIN los ON e.vec_id = los.idb
    """


def q_dup_span_removal(spark, sf_dir):
    """Substring-dedup REWRITE (operators/dedup.py:remove_duplicate_spans):
    drop every non-first occurrence of a duplicated 4-gram window (global
    first = min (doc_id, pos)), keeping the rewritten text. The oracle
    replays the identical window hashes, the same (id, pos) occurrence
    ranking, and the same removal-wins position set, so the rewritten
    strings match byte-for-byte."""
    from htrc_feature_reader_spark.operators.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=4, min_count=2).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        "n_tokens",
        "n_removed",
    )


def _dup_span_removal_sql() -> str:
    sid = dual_hash_sql("shingle")
    return f"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      pos AS (
        SELECT doc_id, unnest(range(0, greatest(len(l) - 3, 0))) AS p, l
        FROM d),
      ids AS (
        SELECT doc_id, p, {sid} AS sidv FROM (
          SELECT doc_id, p,
                 l[p+1] || ' ' || l[p+2] || ' ' || l[p+3] || ' ' || l[p+4] AS shingle
          FROM pos)),
      rk AS (
        SELECT doc_id, p,
               row_number() OVER (PARTITION BY sidv ORDER BY doc_id, p) AS rk,
               count(*) OVER (PARTITION BY sidv) AS cnt
        FROM ids),
      rem AS (
        SELECT DISTINCT doc_id, unnest(range(p, p + 4)) AS rpos
        FROM rk WHERE cnt >= 2 AND rk > 1),
      w2 AS (
        SELECT doc_id, wpos, l[wpos + 1] AS word FROM (
          SELECT doc_id, unnest(range(0, len(l))) AS wpos, l FROM d)),
      kept AS (
        SELECT w2.doc_id, w2.wpos, w2.word FROM w2
        ANTI JOIN rem ON w2.doc_id = rem.doc_id AND w2.wpos = rem.rpos),
      agg AS (
        SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS text2,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             coalesce(agg.text2, '') AS text,
             CAST(len(d.l) AS BIGINT) AS n_tokens,
             CAST(len(d.l) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
      FROM d LEFT JOIN agg USING (doc_id)
    """


def q_char_entropy(spark, sf_dir):
    """Per-char Shannon entropy (operators/text.py:char_entropy): the
    cheap gibberish/boilerplate signal, computed ZERO-shuffle with
    row-local higher-order functions (no explode into a char-instance
    relation). The oracle takes the relational route (unnest + groupBy)
    — two independent formulations agreeing to 1e-9."""
    from htrc_feature_reader_spark.operators.text import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("nc"),
        F.round("entropy_bits", 9).alias("ent9"),
    )


_CHAR_ENTROPY_SQL = """
      WITH c AS (SELECT doc_id,
                        list_filter(string_split(text,''), x -> x <> '') AS chs
                 FROM documents),
      ch AS (SELECT doc_id, unnest(chs) AS c FROM c),
      cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
      nn AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1),
      e AS (SELECT cnt.doc_id,
                   sum(-(k*1.0/n)*log2(k*1.0/n)) AS ent
            FROM cnt JOIN nn USING (doc_id) GROUP BY 1)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             CAST(COALESCE(nn.n, 0) AS BIGINT) AS nc,
             round(e.ent, 9) AS ent9
      FROM documents d LEFT JOIN nn USING (doc_id) LEFT JOIN e USING (doc_id)
    """


_GQ_Q = 0.35


def q_group_quantile(spark, sf_dir):
    """Exact per-group percentile_disc (operators/stats.py:group_quantile):
    smallest n_chars whose within-source cume_dist reaches q
    — one exchange + in-group sort of the (group, value) projection only.
    DuckDB's quantile_disc reproduces the rank definition exactly (no
    interpolation, so no float drift)."""
    from htrc_feature_reader_spark.operators.stats import group_quantile

    docs = _t(spark, sf_dir, "documents")
    out = group_quantile(docs, "n_chars", "source", q=_GQ_Q)
    return out.select("group", F.col("threshold").cast("long").alias("threshold"))


def q_quantile_gate(spark, sf_dir):
    """Quantile-gated filtering (operators/stats.py:
    filter_by_group_quantile): keep each source's top (1-q) tail by
    n_chars. The #groups-sized threshold join is deliberately UNHINTED
    (plan-tested) — a group column is not bounded by construction (a
    crawl has millions of domains), so AQE picks the strategy."""
    from htrc_feature_reader_spark.operators.stats import filter_by_group_quantile

    docs = _t(spark, sf_dir, "documents")
    out = filter_by_group_quantile(docs, "n_chars", "source", q=_GQ_Q, keep="ge")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("nc"),
        F.col("__threshold").cast("long").alias("thr"),
    )


def _quantile_gate_sql(keep_ge: bool = True) -> str:
    op = ">=" if keep_ge else "<"
    return f"""
      WITH t AS (SELECT source, quantile_disc(n_chars, {_GQ_Q}) AS thr
                 FROM documents GROUP BY 1)
      SELECT CAST(doc_id AS BIGINT) AS doc_id, d.source,
             CAST(n_chars AS BIGINT) AS nc, CAST(t.thr AS BIGINT) AS thr
      FROM documents d JOIN t USING (source) WHERE n_chars {op} thr
    """


_SPG_K = 15
_SPG_SEED = 7


def q_sample_per_group(spark, sf_dir):
    """Seed-pure per-group uniform sampling without replacement
    (operators/selection.py:sample_per_group): up to k docs per lang,
    'randomness' is the shared mix(key_hash(id)) family so the oracle
    replays the exact draw. Plan: ONE exchange with the rank limit
    pushed below it (WindowGroupLimit partial/final — only ~k rows per
    group per partition move)."""
    from htrc_feature_reader_spark.operators.selection import sample_per_group

    docs = _t(spark, sf_dir, "documents")
    out = sample_per_group(docs, "lang", k=_SPG_K, seed=_SPG_SEED)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


def _sample_per_group_sql() -> str:
    from htrc_feature_reader_spark.operators.packing import shuffle_key_sql

    key = shuffle_key_sql("doc_id", _SPG_SEED)
    return f"""
      WITH r AS (SELECT doc_id, lang,
                        row_number() OVER (PARTITION BY lang
                          ORDER BY ({key}) DESC, doc_id DESC) AS rn
                 FROM documents)
      SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM r WHERE rn <= {_SPG_K}
    """


_NB_BUCKETS = 512


def q_nb_classify(spark, sf_dir):
    """Hashed-n-gram multinomial Naive Bayes (operators/classify.py:
    nb_classify): train on the even-doc_id half's lang labels, score the
    whole corpus — the label-propagation face. The model is DENSE
    (n_labels x n_buckets, bounded by caller parameters, broadcast-safe
    at any scale — the deliberate contrast with tf_idf's unbounded
    vocabulary); training and inference are exact integer-count
    arithmetic under log, replayed bit-for-bit by the oracle."""
    from htrc_feature_reader_spark.operators.classify import nb_classify

    docs = _t(spark, sf_dir, "documents").withColumn(
        "lbl", F.when(F.col("doc_id") % 2 == 0, F.col("lang"))
    )
    out = nb_classify(docs, label_col="lbl", n_buckets=_NB_BUCKETS)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "pred",
        F.round("logp", 9).alias("logp9"),
        F.col("n_feats").cast("long").alias("n_feats"),
    )


def _nb_classify_sql() -> str:
    from htrc_feature_reader_spark.operators.selection import ngram_buckets_sql

    b = _NB_BUCKETS
    expr = ngram_buckets_sql(n_buckets=b, ngrams=(1, 2))
    return f"""
      WITH d AS (SELECT doc_id, text,
                        CASE WHEN doc_id % 2 = 0 THEN lang END AS lbl
                 FROM documents),
      feats AS (SELECT doc_id, unnest({expr}) AS bucket
                FROM (SELECT doc_id,
                             list_filter(string_split(text, ' '), w -> w <> '') AS l
                      FROM d)),
      lab AS (SELECT doc_id AS id, lbl AS label FROM d WHERE lbl IS NOT NULL),
      inst AS (SELECT f.doc_id AS id, bucket, label
               FROM feats f JOIN lab ON f.doc_id = lab.id),
      counts AS (SELECT label, bucket, count(*) AS c_lb FROM inst GROUP BY 1, 2),
      ltot AS (SELECT label, count(*) AS n_l FROM inst GROUP BY 1),
      dc AS (SELECT label, count(*) AS d_l FROM lab GROUP BY 1),
      dtot AS (SELECT sum(d_l) AS dd FROM dc),
      grid AS (SELECT label, CAST(r.range AS INT) AS bucket
               FROM dc CROSS JOIN range({b}) r),
      model AS (SELECT g.label, g.bucket,
                       ln((COALESCE(c_lb, 0) + 1.0) / (n_l + 1.0 * {b})) AS log_cond,
                       ln(d_l * 1.0 / dd) AS log_prior
                FROM grid g LEFT JOIN counts USING (label, bucket)
                     JOIN ltot USING (label) JOIN dc USING (label)
                     CROSS JOIN dtot),
      sc AS (SELECT f.doc_id AS id, m.label, count(*) AS nf,
                    any_value(log_prior) + sum(log_cond) AS score
             FROM feats f JOIN model m USING (bucket) GROUP BY 1, 2),
      best AS (SELECT id, label, score, nf,
                      row_number() OVER (PARTITION BY id
                        ORDER BY score DESC, label DESC) AS rn
               FROM sc),
      pb AS (SELECT label, log_prior
             FROM (SELECT label, any_value(log_prior) AS log_prior
                   FROM model GROUP BY label)
             ORDER BY log_prior DESC, label DESC LIMIT 1)
      SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
             COALESCE(b.label, pb.label) AS pred,
             round(COALESCE(b.score, pb.log_prior), 9) AS logp9,
             CAST(COALESCE(b.nf, 0) AS BIGINT) AS n_feats
      FROM d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.id
           CROSS JOIN pb
    """


def q_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of (operators/asof.py direction='nearest',
    pandas merge_asof parity with ties to backward): closest 'click'
    value in either direction onto each 'signup'. Pure Catalyst — both
    directional fills share ONE key exchange (two sorts, no extra
    shuffle); distances compared in exact integer micros."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    build = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    return asof_join(probe, build, on="user_id", ts="ts", direction="nearest")


# DuckDB has no nearest ASOF — replay the engine's own union-window
# formulation (same tag ordering, same integer-micros tie rule)
_ASOF_NEAREST_SQL = """
  WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
       b AS (SELECT user_id, ts, value AS click_value FROM events
             WHERE event_type = 'click'),
       u AS (SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id,
                    click_value, 0 AS tag FROM b
             UNION ALL
             SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE), 1 AS tag FROM p),
       f AS (SELECT *,
                last_value(CASE WHEN tag = 0 THEN struct_pack(ts := ts, v := click_value)
                           END IGNORE NULLS) OVER wb AS bm,
                last_value(CASE WHEN tag = 0 THEN struct_pack(ts := ts, v := click_value)
                           END IGNORE NULLS) OVER wf AS fm
             FROM u
             WINDOW
               wb AS (PARTITION BY user_id ORDER BY ts ASC, tag ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY ts DESC, tag ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
  SELECT event_id, user_id, ts,
         CASE WHEN bm IS NOT NULL AND (fm IS NULL OR
                   (epoch_us(ts) - epoch_us(bm.ts)) <= (epoch_us(fm.ts) - epoch_us(ts)))
              THEN bm.v ELSE fm.v END AS click_value
  FROM f WHERE tag = 1
"""


_DS_RATE_INV = 8
_DS_SEED = 31


def q_distinct_sampled(spark, sf_dir):
    """Hash-threshold distinct sampling (operators/stats.py:
    distinct_sampled, Gibbons' distinct sampler): approximate distinct
    users per event_type with a DETERMINISTIC estimator — unlike HLL the
    per-value keep decision is pure integer hash arithmetic, so the
    oracle reproduces the estimate bit-exactly. The threshold test is a
    narrow scan predicate: at 100 TB only ~1/rate_inv of the distinct
    mass reaches the count-distinct shuffle."""
    from htrc_feature_reader_spark.operators.stats import distinct_sampled

    ev = _t(spark, sf_dir, "events")
    return distinct_sampled(
        ev, "user_id", group_col="event_type",
        rate_inv=_DS_RATE_INV, seed=_DS_SEED,
    )


def _distinct_sampled_sql() -> str:
    from htrc_feature_reader_spark.operators.stats import distinct_sampled_sql

    return distinct_sampled_sql(
        "user_id", group_col="event_type",
        rate_inv=_DS_RATE_INV, seed=_DS_SEED, table="events",
    )


_TS_CUTOFF = "2024-01-20 00:00:00"
_TS_EMBARGO_S = 86_400.0


def q_temporal_split(spark, sf_dir):
    """Leakage-free temporal carve (operators/packing.py:temporal_split):
    train <= cutoff, test > cutoff + 1-day embargo, NULL inside the
    embargo window — so trailing-window / as-of features up to 1 day deep
    cannot straddle the boundary (north-rule zero-temporal-leakage
    contract). Exact integer-micros boundaries; map-only projection."""
    from htrc_feature_reader_spark.operators.packing import temporal_split

    ev = _t(spark, sf_dir, "events")
    out = temporal_split(ev, _TS_CUTOFF, ts_col="ts", embargo_s=_TS_EMBARGO_S)
    return out.select("event_id", "split")


def _temporal_split_sql() -> str:
    from htrc_feature_reader_spark.operators.packing import temporal_split_sql

    lbl = temporal_split_sql(_TS_CUTOFF, ts_col="ts", embargo_s=_TS_EMBARGO_S)
    return f"SELECT event_id, {lbl} AS split FROM events"


# ---------------------------------------------------------------------------
# driver surface


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the north-rule as-of + windowed feature pipeline."""
    return q_seq_asof_features(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The 100 declared queries, each checked against its ``oracle_sql()``
    entry by scripts/check_oracle.py. The CORRECTNESS artifact records
    the first 50 entries, so the key order is part of the contract: the
    comments below group the keys by the artifact rows each one held when
    the order was fixed."""
    return {
        # --- added in round 5 ---
        "asof_nearest": q_asof_nearest,
        "distinct_sampled": q_distinct_sampled,
        "temporal_split": q_temporal_split,
        "char_entropy": q_char_entropy,
        "group_quantile": q_group_quantile,
        "quantile_gate": q_quantile_gate,
        "sample_per_group": q_sample_per_group,
        "nb_classify": q_nb_classify,
        "trailing_features": q_trailing_features,
        "dsir_weights": q_dsir_weights,
        "importance_resample": q_importance_resample,
        "bigram_logprob": q_bigram_logprob,
        "token_drift": q_token_drift,
        "unigram_logprob": q_unigram_logprob,
        "ngram_novelty": q_ngram_novelty,
        "source_overlap": q_source_overlap,
        "range_join": q_range_join,
        "dup_spans": q_dup_spans,
        "semantic_dedup": q_semantic_dedup,
        "dup_span_removal": q_dup_span_removal,
        # --- exactly one formal row (r4) ---
        "chunked_tokenlist_ends": q_chunked_tokenlist_ends,
        "chunked_tokenlist_even": q_chunked_tokenlist_even,
        "metadata_roundtrip": q_metadata_roundtrip,
        "section_features_roundtrip": q_section_features_roundtrip,
        "line_chars_roundtrip": q_line_chars_roundtrip,
        "page_features_roundtrip": q_page_features_roundtrip,
        "tokenize_hash": q_tokenize_hash,
        "unpack_roundtrip": q_unpack_roundtrip,
        "repetition": q_repetition,
        "take_per_source": q_take_per_source,
        "incremental_dedup": q_incremental_dedup,
        "incremental_near_dup": q_incremental_near_dup,
        "incremental_clean": q_incremental_clean,
        "split_by_hash": q_split_by_hash,
        "shuffle_order": q_shuffle_order,
        "length_bucket": q_length_bucket,
        "bm25": q_bm25,
        "pii": q_pii,
        "corpus_stats": q_corpus_stats,
        "mixture_epochs": q_mixture_epochs,
        "pack_padded": q_pack_padded,
        "boilerplate": q_boilerplate,
        "top_terms": q_top_terms,
        "jsonl_quarantine": q_jsonl_quarantine,
        "seq_minhash": q_seq_minhash,
        # --- two formal rows (r2+r3), out of the artifact since r4 ---
        "tf_idf": q_tf_idf,
        "embedding_near_dup": q_embedding_near_dup,
        "lang_distribution": q_lang_distribution,
        "fingerprint": q_fingerprint,
        "line_dedup": q_line_dedup,
        "bpe_token_count": q_bpe_token_count,
        "tokenlist_volume": q_tokenlist_volume,
        "tokenlist_corpus": q_tokenlist_corpus,
        "tokens_min_count": q_tokens_min_count,
        "min_count_window": q_min_count_window,
        "term_doc_freqs": q_term_doc_freqs,
        "tokens_per_page": q_tokens_per_page,
        "line_chars": q_line_chars,
        # --------------- 50-row artifact cap ---------------
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "nation_revenue": q_nation_revenue,
        "top_parts_per_brand": q_top_parts_per_brand,
        "asof_purchase_view": q_asof_purchase_view,
        "asof_salted": q_asof_salted,
        "asof_forward": q_asof_forward,
        "lag_delta": q_lag_delta,
        "stopword_filter": q_stopword_filter,
        # --- two formal rows (r3+r4) ---
        "chunked_tokenlist": q_chunked_tokenlist,
        "section_group": q_section_group,
        "multimodal_meta": q_multimodal_meta,
        "quad_roundtrip": q_quad_roundtrip,
        "quad_prefold_roundtrip": q_quad_prefold_roundtrip,
        "ef_json_roundtrip": q_ef_json_roundtrip,
        "asof_auto_salt": q_asof_auto_salt,
        "dedup_clusters": q_dedup_clusters,
        "lang_detect": q_lang_detect,
        "pack_sequences": q_pack_sequences,
        "decontaminate": q_decontaminate,
        "sample_mixture": q_sample_mixture,
        # --- three formal rows (r2+r3+r4) ---
        "tokenlist_fold": q_tokenlist_fold,
        "page_freq": q_page_freq,
        "training_pipeline": q_training_pipeline,
        "term_page_pivot": q_term_page_pivot,
        "sessionize": q_sessionize,
        "ffill_views": q_ffill_views,
        "bfill_views": q_bfill_views,
        "term_volume_freqs": q_term_volume_freqs,
        "page_select": q_page_select,
        "daily_rollup": q_daily_rollup,
        "session_stats": q_session_stats,
        "seq_pit_features": q_seq_pit_features,
        "seq_asof_features": q_seq_asof_features,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "quality": q_quality,
    }


def _jaccard_sql() -> str:
    """Oracle for q_jaccard_pairs: Jaccard over HASHED shingle ids in the
    engine's hash-then-cap order (same rationale as _minhash_sql — under
    a collision, the merged id's document frequency and per-doc shingle
    sets are what the engine sees, so the oracle replays them)."""
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH sh AS ({_SQL_SHINGLES}),
      ds0 AS (SELECT DISTINCT doc_id, {sid} AS sid FROM sh),
      ds AS (
        SELECT ds0.doc_id, ds0.sid FROM ds0
        ANTI JOIN (
          SELECT sid FROM ds0 GROUP BY sid
          HAVING count(*) > 0.5 * (SELECT count(DISTINCT doc_id) FROM ds0)
        ) stop USING (sid)),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM ds a JOIN ds b ON a.sid = b.sid AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             n_common / (sa.n_sh + sb.n_sh - n_common) AS jacc
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    """


def _minhash_sql() -> str:
    """Oracle for q_minhash_lsh. Order matters: the engine path hashes
    shingles to ids map-side FIRST (word_shingle_ids) and applies the
    stop-shingle cap on the HASHED ids — so under a hash collision the
    collided id's document frequency is the union of both strings' docs.
    The oracle replays that order (hash, distinct, then cap on sid);
    capping on strings first would diverge exactly when collisions
    straddle the df threshold."""
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH sh AS ({_SQL_SHINGLES}),
      ds0 AS (SELECT DISTINCT doc_id, {sid} AS sid FROM sh),
      ds AS (
        SELECT ds0.doc_id, ds0.sid FROM ds0
        ANTI JOIN (
          SELECT sid FROM ds0 GROUP BY sid
          HAVING count(*) > 0.5 * (SELECT count(DISTINCT doc_id) FROM ds0)
        ) stop USING (sid)),
      mh AS (SELECT doc_id, {_SQL_MH_HASHES} FROM ds GROUP BY doc_id)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mh a JOIN mh b ON a.doc_id < b.doc_id AND ({_SQL_MH_BANDS})
    """


def _dedup_clusters_sql() -> str:
    """Oracle for q_dedup_clusters: the q_minhash_lsh pair chain plus the
    signature-match verification filter, then connected components by
    recursive reachability over the undirected pair graph — component =
    least(id, min reachable id). Reachability is O(n * component size),
    fine at oracle scale; the engine uses the O(log^2 n) star algorithm."""
    match_sum = " + ".join(f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(_MH_N))
    sid = rolling_hash_sql("shingle")
    return f"""
      WITH RECURSIVE
      sh AS ({_SQL_SHINGLES}),
      ds0 AS (SELECT DISTINCT doc_id, {sid} AS sid FROM sh),
      ds AS (
        SELECT ds0.doc_id, ds0.sid FROM ds0
        ANTI JOIN (
          SELECT sid FROM ds0 GROUP BY sid
          HAVING count(*) > 0.5 * (SELECT count(DISTINCT doc_id) FROM ds0)
        ) stop USING (sid)),
      mh AS (SELECT doc_id, {_SQL_MH_HASHES} FROM ds GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM mh a JOIN mh b ON a.doc_id < b.doc_id AND ({_SQL_MH_BANDS})
        WHERE ({match_sum}) / {_MH_N}.0 >= 0.25),
      und AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT u AS id, v AS r FROM und
        UNION
        SELECT reach.id, und.v FROM reach JOIN und ON reach.r = und.u)
      SELECT id AS doc_id, least(id, min(r)) AS component
      FROM reach GROUP BY id
    """


def _near_dup_sql() -> str:
    """DuckDB replica of the banded embedding near-dup pipeline: identical
    integer-derived perturbation + hyperplanes (ndp_plane_coeffs), identical
    sign-bit signatures (sign taken after round(.,6) on both engines), so
    the candidate set — not just the final cosine — is value-checked."""
    from htrc_feature_reader_spark.operators.similarity import (
        ndp_component_sql, ndp_plane_coeffs,
    )

    na, nb = ndp_plane_coeffs(1, 1, seed=_NDP_NOISE_SEED)[0]
    coeffs = ndp_plane_coeffs(_NDP_TABLES, _NDP_BITS, _MH_SEED)
    sig_exprs = []
    for t in range(_NDP_TABLES):
        bits = []
        for p in range(_NDP_BITS):
            a, b = coeffs[t * _NDP_BITS + p]
            proj = ("list_sum(list_transform(range(0, len(embedding)), "
                    f"i -> embedding[i+1] * ({ndp_component_sql(a, b, 'i')})))")
            bits.append(f"(CASE WHEN round({proj}, 6) > 0 THEN {1 << p} ELSE 0 END)")
        sig_exprs.append("(" + " + ".join(bits) + f") AS s{t}")
    sig_list = ", ".join(f"s{t}" for t in range(_NDP_TABLES))
    return f"""
      WITH aug AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {_NDP_ID_OFFSET},
               list_transform(range(0, len(embedding)),
                 i -> CAST(embedding[i+1] AS DOUBLE) +
                      {_NDP_EPS} * ({ndp_component_sql(na, nb, f"i + vec_id * {_NDP_ID_MIX}")}))
        FROM embeddings),
      sigs AS (SELECT vec_id, {", ".join(sig_exprs)} FROM aug),
      banded AS (
        SELECT vec_id, t.i AS band, [{sig_list}][t.i + 1] AS sig
        FROM sigs, range(0, {_NDP_TABLES}) t(i)),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
      scored AS (
        SELECT id_a, id_b,
               list_dot_product(ea.embedding, eb.embedding) /
                 (sqrt(list_dot_product(ea.embedding, ea.embedding)) *
                  sqrt(list_dot_product(eb.embedding, eb.embedding))) AS cos
        FROM cand
        JOIN aug ea ON ea.vec_id = id_a
        JOIN aug eb ON eb.vec_id = id_b)
      SELECT id_a, id_b, round(cos, 4) AS cos4
      FROM scored WHERE round(cos, 6) >= {_NDP_TAU}
    """


def _chunked_sql() -> str:
    """DuckDB replay of the 'last' chunking strategy
    (operators/chunking.py:_label_chunks with balance=False, two_sided=False,
    defer=True): a recursive CTE carries (doc, running break position); each
    step picks the page whose cumulative count is nearest the target past
    the previous break (first index on ties — np.argmin semantics), stopping
    when the remainder is under 1.5x target (it merges into the open chunk).
    Verified bit-equal to the Python algorithm on every sf0.01 document."""
    tok = f"""
      SELECT doc_id,
             CAST(((ord - 1) // {_CHUNK_PAGE}) + 1 AS BIGINT) AS page,
             tok AS token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS ord
            FROM documents)
    """
    return f"""
      WITH RECURSIVE
      toks AS ({tok}),
      pages AS (SELECT doc_id, page, count(*) AS c FROM toks GROUP BY 1, 2),
      cumt AS (SELECT doc_id, page, c,
                      sum(c) OVER (PARTITION BY doc_id ORDER BY page) AS cs
               FROM pages),
      doc AS (SELECT doc_id, list(cs ORDER BY page) AS cums,
                     CAST(sum(c) AS BIGINT) AS total
              FROM cumt GROUP BY doc_id),
      brk AS (
        SELECT doc_id, cums, total, CAST(0 AS BIGINT) AS base FROM doc
        UNION ALL
        SELECT doc_id, cums, total,
               list_filter(cums, x -> x > base)[
                 list_position(
                   list_transform(list_filter(cums, x -> x > base),
                                  x -> abs(x - base - {_CHUNK_T})),
                   list_aggregate(list_transform(list_filter(cums, x -> x > base),
                                                 x -> abs(x - base - {_CHUNK_T})), 'min'))
               ] AS base
        FROM brk
        WHERE total - base >= 1.5 * {_CHUNK_T}
      ),
      labels AS (
        SELECT c.doc_id, c.page,
               CAST(1 + (SELECT count(*) FROM brk b
                         WHERE b.doc_id = c.doc_id AND b.base > 0
                           AND b.base < c.cs) AS BIGINT) AS chunk
        FROM cumt c),
      bounds AS (SELECT doc_id, chunk, min(page) AS pstart, max(page) AS pend
                 FROM labels GROUP BY 1, 2)
      SELECT t.doc_id, l.chunk, t.token, count(*) AS cnt, bo.pstart, bo.pend
      FROM toks t
      JOIN labels l ON t.doc_id = l.doc_id AND t.page = l.page
      JOIN bounds bo ON bo.doc_id = l.doc_id AND bo.chunk = l.chunk
      GROUP BY 1, 2, 3, 5, 6
    """


def _chunked_two_sided_sql(balance_always: bool) -> str:
    """DuckDB replay of the TWO-SIDED chunking strategies — 'ends'
    (balance='mids': slack rebalancing from the second pass) and 'even'
    (balance always) — i.e. operators/chunking.py:_label_chunks with
    two_sided=True, defer=False. Each recursive row is one pass of the
    Python loop: (lo, hi) window bounds, front/back break marks m1/m2,
    with every quirk replicated exactly — signed slack nearest zero,
    banker's-rounded n_chunks (round_even == np.round), slack*2/n_chunks
    only when n_chunks > 2, the <2.5x-target midpoint split, the
    lo+step>=n early stop, and the same-chunk-from-both-ends clamp
    (hi := lo). Verified bit-equal to chunk_ends/chunk_even on every
    sf0.001 document AND on 400 random count-array fuzz docs per
    strategy. Labels = count of distinct break marks at-or-before each
    page's 0-based position (mark 0 is implicit)."""
    bal = "TRUE" if balance_always else "(passes > 1)"
    T = _CHUNK_T
    tok = f"""
      SELECT doc_id,
             CAST(((ord - 1) // {_CHUNK_PAGE}) + 1 AS BIGINT) AS page,
             tok AS token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS ord
            FROM documents)
    """
    return f"""
      WITH RECURSIVE
      toks AS ({tok}),
      pages AS (SELECT doc_id, page, count(*) AS c FROM toks GROUP BY 1, 2),
      cumt AS (SELECT doc_id, page, c,
                      sum(c) OVER (PARTITION BY doc_id ORDER BY page) AS cs,
                      (row_number() OVER (PARTITION BY doc_id ORDER BY page) - 1) AS idx0
               FROM pages),
      doc AS (SELECT doc_id, list(cs ORDER BY page) AS cums,
                     CAST(count(*) AS BIGINT) AS n
              FROM cumt GROUP BY doc_id),
      brk AS (
        SELECT doc_id, cums, n,
               CAST(0 AS BIGINT) AS lo, n AS hi, 0 AS passes,
               CAST(NULL AS BIGINT) AS m1, CAST(NULL AS BIGINT) AS m2,
               (n = 0) AS done
        FROM doc
        UNION ALL
        SELECT doc_id, cums, n,
               CASE WHEN fin OR two THEN lo ELSE lo + stepp END AS lo,
               CASE WHEN fin OR two THEN hi
                    WHEN lo + stepp >= n THEN hi
                    WHEN lo + stepp > hi - backp THEN lo + stepp
                    ELSE hi - backp END AS hi,
               passes,
               CASE WHEN fin THEN NULL
                    WHEN two THEN (CASE WHEN lo + midp < n THEN lo + midp END)
                    WHEN lo + stepp >= n THEN NULL
                    ELSE lo + stepp END AS m1,
               CASE WHEN fin OR two OR lo + stepp >= n THEN NULL
                    ELSE hi - backp END AS m2,
               (fin OR two OR lo + stepp >= n) AS done
        FROM (
          SELECT *,
                 CASE WHEN NOT fin AND NOT two
                      THEN list_position(adiffs, list_aggregate(adiffs, 'min'))
                      ELSE CAST(0 AS BIGINT) END AS stepp,
                 CASE WHEN two
                      THEN list_position(mdiffs, list_aggregate(mdiffs, 'min'))
                      ELSE CAST(0 AS BIGINT) END AS midp,
                 CASE WHEN NOT fin AND NOT two
                      THEN list_position(bdiffs, list_aggregate(bdiffs, 'min'))
                      ELSE CAST(0 AS BIGINT) END AS backp
          FROM (
            SELECT *,
                   list_transform(range(lo + 1, hi + 1),
                                  j -> abs((cums[j] - base) - lt)) AS adiffs,
                   list_transform(range(lo + 1, hi + 1),
                                  j -> abs((cums[j] - base) - remaining / 2.0)) AS mdiffs,
                   list_transform(range(1, hi - lo + 1),
                                  i -> abs((cums[hi] - (CASE WHEN hi - i = 0 THEN 0 ELSE cums[hi - i] END)) - lt)) AS bdiffs
            FROM (
              SELECT *,
                     {T} + slack_f / 2 AS lt,
                     (remaining < 1.5 * {T}) AS fin,
                     (remaining >= 1.5 * {T} AND remaining < 2.5 * {T}) AS two
              FROM (
                SELECT *,
                       CASE WHEN bal AND nck > 2
                            THEN slack1 * 2.0 / nck
                            ELSE CAST(slack1 AS DOUBLE) END AS slack_f
                FROM (
                  SELECT *,
                         round_even(remaining / CAST({T} AS DOUBLE), 0) AS nck,
                         CASE WHEN ({T} - slack0) < slack0
                              THEN slack0 - {T} ELSE slack0 END AS slack1,
                         {bal} AS bal
                  FROM (
                    SELECT doc_id, cums, n, lo, hi, passes + 1 AS passes,
                           (CASE WHEN lo = 0 THEN CAST(0 AS BIGINT) ELSE cums[lo] END) AS base,
                           cums[hi] - (CASE WHEN lo = 0 THEN CAST(0 AS BIGINT) ELSE cums[lo] END) AS remaining,
                           (cums[hi] - (CASE WHEN lo = 0 THEN CAST(0 AS BIGINT) ELSE cums[lo] END)) % {T} AS slack0
                    FROM brk WHERE NOT done AND lo != hi
                  )
                )
              )
            )
          )
        )
      ),
      marks AS (
        SELECT doc_id, m FROM (
          SELECT doc_id, m1 AS m FROM brk
          UNION SELECT doc_id, m2 FROM brk
          UNION SELECT doc_id, CAST(0 AS BIGINT) FROM doc WHERE n > 0
        ) WHERE m IS NOT NULL
      ),
      labels AS (
        SELECT c.doc_id, c.page, CAST(count(*) AS BIGINT) AS chunk
        FROM cumt c JOIN marks mk
          ON mk.doc_id = c.doc_id AND mk.m <= c.idx0
        GROUP BY 1, 2
      ),
      bounds AS (SELECT doc_id, chunk, min(page) AS pstart, max(page) AS pend
                 FROM labels GROUP BY 1, 2)
      SELECT t.doc_id, l.chunk, t.token, count(*) AS cnt, bo.pstart, bo.pend
      FROM toks t
      JOIN labels l ON t.doc_id = l.doc_id AND t.page = l.page
      JOIN bounds bo ON bo.doc_id = l.doc_id AND bo.chunk = l.chunk
      GROUP BY 1, 2, 3, 5, 6
    """


def _simhash_sql() -> str:
    bit_exprs = " + ".join(
        f"(CASE WHEN sum(((((token_id * {_SH_A} + {_SH_B}) % {1 << 62}) >> {j}) & 1) * 2 * weight - weight) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(_SH_BITS)
    )
    tid = rolling_hash_sql("token")
    return f"""
      WITH toks AS (
        SELECT doc_id AS id, tok AS token, count(*) AS weight
        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
        GROUP BY 1, 2)
      SELECT id AS doc_id, CAST({bit_exprs} AS BIGINT) AS simhash
      FROM (SELECT id, {tid} AS token_id, weight FROM toks)
      GROUP BY id
    """


def oracle_sql() -> dict[str, str]:
    return {
        "tokenlist_fold": f"""
          SELECT doc_id, page, token, count(*) AS cnt
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2, 3
        """,
        "tokenlist_volume": f"""
          SELECT doc_id, token, count(*) AS cnt
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2
        """,
        "tokenlist_corpus": f"""
          SELECT lower(token) AS lowercase, count(*) AS cnt
          FROM ({_SQL_TOKENS}) GROUP BY 1
        """,
        "page_freq": f"""
          SELECT doc_id, token, count(DISTINCT page) AS n_pages
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2
        """,
        "tokens_min_count": f"""
          SELECT doc_id, token
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2 HAVING count(*) >= 5
        """,
        "min_count_window": f"""
          SELECT doc_id, token, CAST(count(*) AS BIGINT) AS total
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2 HAVING count(*) >= 5
        """,
        "training_pipeline": _pipeline_sql(),
        "term_doc_freqs": f"""
          SELECT token, count(DISTINCT doc_id) AS n_docs
          FROM ({_SQL_TOKENS}) GROUP BY 1
        """,
        "tokens_per_page": f"""
          SELECT doc_id, page, count(*) AS cnt
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2
        """,
        "term_page_pivot": f"""
          SELECT doc_id, page,
                 CAST(sum(CASE WHEN token = 'table' THEN 1 ELSE 0 END) AS BIGINT) AS n_table,
                 CAST(sum(CASE WHEN token = 'value' THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
                 CAST(sum(CASE WHEN token = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS n_scan
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2
        """,
        "line_chars": f"""
          SELECT doc_id, place, ch AS char, count(*) AS cnt FROM (
            SELECT doc_id, 'begin' AS place, substr(token, 1, 1) AS ch FROM ({_SQL_TOKENS})
            UNION ALL
            SELECT doc_id, 'end' AS place, right(token, 1) AS ch FROM ({_SQL_TOKENS})
          ) GROUP BY 1, 2, 3
        """,
        "pricing_summary": """
          SELECT l_returnflag, l_linestatus,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                 count(*) AS count_order
          FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
          GROUP BY 1, 2
        """,
        "shipping_priority": """
          SELECT l_orderkey, o_orderdate,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY 1, 2
          ORDER BY revenue DESC, l_orderkey
          LIMIT 10
        """,
        "nation_revenue": """
          SELECT n_name,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
                 count(*) AS n_items
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1
        """,
        "top_parts_per_brand": """
          SELECT p_brand, p_partkey, revenue, CAST(rnk AS BIGINT) AS rnk FROM (
            SELECT p_brand, p_partkey, revenue,
                   row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rnk
            FROM (
              SELECT p_brand, p_partkey,
                     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2))
          WHERE rnk <= 3
        """,
        "asof_purchase_view": _ASOF_PURCHASE_SQL,
        "asof_salted": _ASOF_PURCHASE_SQL,
        "asof_auto_salt": _ASOF_PURCHASE_SQL,
        "asof_forward": """
          SELECT p.event_id, p.user_id, p.ts, c.click_value
          FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') p
          ASOF LEFT JOIN
               (SELECT user_id, ts, value AS click_value FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts <= c.ts
        """,
        "sessionize": """
          SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions FROM (
            SELECT user_id,
                   sum(CASE WHEN prev_ts IS NULL
                            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM (SELECT user_id, ts,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                  FROM events))
          GROUP BY user_id
        """,
        "lag_delta": """
          SELECT event_id,
                 value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS delta
          FROM events
        """,
        "ffill_views": """
          SELECT event_id,
                 last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_value
          FROM events
        """,
        "bfill_views": """
          SELECT event_id,
                 first_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS view_value
          FROM events
        """,
        "term_volume_freqs": f"""
          WITH pf AS (
            SELECT doc_id, token, CAST(count(DISTINCT page) AS BIGINT) AS n_pages
            FROM ({_SQL_TOKENS}) GROUP BY 1, 2)
          SELECT doc_id, token, n_pages,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY n_pages DESC, token ASC
                 ) AS BIGINT) AS rnk
          FROM pf
          QUALIFY rnk <= 25
        """,
        "page_select": f"""
          SELECT doc_id, page, token, CAST(count(*) AS BIGINT) AS count
          FROM ({_SQL_TOKENS}) WHERE page = 2 GROUP BY 1, 2, 3
        """,
        "daily_rollup": """
          SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          FROM events GROUP BY 1, 2
        """,
        "session_stats": """
          WITH sess AS (
            SELECT user_id, ts,
                   sum(CASE WHEN prev_ts IS NULL
                            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM (SELECT user_id, ts,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
                  FROM events))
          SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
                 max(epoch_us(ts)/1000000.0) - min(epoch_us(ts)/1000000.0) AS dur_s
          FROM sess GROUP BY 1, 2
        """,
        "seq_pit_features": f"""
          WITH seqs AS ({_SQL_SEQUENCES})
          SELECT doc_key, event_id, ts, n_tok, sum_tok,
                 count(*) OVER w_doc AS seq_idx,
                 CAST(sum(n_tok) OVER w_doc AS BIGINT) AS cum_n_tok,
                 CAST(sum(sum_tok) OVER w_doc AS BIGINT) AS cum_sum_tok,
                 (sum(n_tok) OVER w_doc) / (count(*) OVER w_doc) AS mean_n_tok,
                 (sum(sum_tok) OVER w_doc) / (sum(n_tok) OVER w_doc) AS mean_token_id,
                 CAST(sum(n_tok) OVER w_src AS BIGINT) AS src_cum_n_tok,
                 CAST(sum(n_tok) OVER w_doc_src AS BIGINT) AS doc_src_cum_n_tok,
                 (sum(n_tok) OVER w_doc_src) / (sum(n_tok) OVER w_src) AS src_share,
                 CAST(sum(CASE WHEN prev_ts IS NULL
                          OR epoch_us(ts) - epoch_us(prev_ts) > 3600000000 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_key ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM (SELECT *, lag(ts) OVER (PARTITION BY doc_key ORDER BY ts, event_id) AS prev_ts
                FROM seqs)
          WINDOW w_doc AS (PARTITION BY doc_key ORDER BY ts),
                 w_src AS (PARTITION BY source ORDER BY ts),
                 w_doc_src AS (PARTITION BY doc_key, source ORDER BY ts)
        """,
        "seq_asof_features": f"""
          WITH seqs AS ({_SQL_SEQUENCES}),
          feats AS (
            SELECT DISTINCT doc_key, ts,
                   count(*) OVER w_doc AS f_seq_idx,
                   CAST(sum(n_tok) OVER w_doc AS BIGINT) AS f_cum_n_tok,
                   CAST(sum(sum_tok) OVER w_doc AS BIGINT) AS f_cum_sum_tok,
                   (sum(sum_tok) OVER w_doc) / (sum(n_tok) OVER w_doc) AS f_mean_token_id
            FROM seqs
            WINDOW w_doc AS (PARTITION BY doc_key ORDER BY ts)),
          probe AS (
            SELECT event_id, CAST(user_id % 50 AS BIGINT) AS doc_key,
                   ts + INTERVAL 1 SECOND AS ts
            FROM events WHERE event_type = 'purchase')
          SELECT p.event_id, p.doc_key, p.ts,
                 f.f_seq_idx, f.f_cum_n_tok, f.f_cum_sum_tok, f.f_mean_token_id
          FROM probe p
          ASOF LEFT JOIN feats f ON p.doc_key = f.doc_key AND p.ts >= f.ts
        """,
        "dedup_exact": """
          SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
          FROM documents GROUP BY 1
        """,
        "jaccard_pairs": _jaccard_sql(),
        "minhash_lsh": _minhash_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "simhash": _simhash_sql(),
        # band constants derived from _SH_BITS exactly like the Spark side
        # (simhash_candidate_pairs(bits=_SH_BITS, n_bands=_SH_PAIR_BANDS))
        "simhash_pairs": f"""
          WITH sh AS ({{SIMHASH}}),
          banded AS (
            SELECT doc_id, simhash, t.b,
                   (simhash >> (t.b * {_SH_BITS // _SH_PAIR_BANDS}))
                     & {(1 << (_SH_BITS // _SH_PAIR_BANDS)) - 1} AS slice
            FROM sh CROSS JOIN (VALUES {", ".join(f"({b})" for b in range(_SH_PAIR_BANDS))}) AS t(b)),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.b = b.b AND a.slice = b.slice AND a.doc_id < b.doc_id)
          SELECT c.doc_a, c.doc_b,
                 CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b
          WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SH_PAIR_BANDS - 1}
        """.replace("{SIMHASH}", _simhash_sql()),
        "ann_cosine_topk": _ANN_TOPK_SQL,
        "ivf_topk": _ANN_TOPK_SQL,
        "quality": r"""
          SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
                 (length(text) - len(string_split_regex(text, '\s+')) + 1) /
                   greatest(len(string_split_regex(text, '\s+')), 1) AS avg_token_len,
                 len(list_distinct(string_split_regex(text, '\s+'))) /
                   greatest(len(string_split_regex(text, '\s+')), 1) AS distinct_ratio,
                 len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1) AS punct_ratio,
                 len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1) AS digit_ratio
          FROM documents
        """,
        "lang_distribution": """
          SELECT source, lang, count(*) AS n_docs FROM documents GROUP BY 1, 2
        """,
        "lang_detect": _lang_detect_sql(),
        "tf_idf": f"""
          WITH per AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tc
            FROM ({_SQL_TOKENS}) GROUP BY 1, 2),
          totals AS (SELECT doc_id, CAST(sum(tc) AS BIGINT) AS doc_total
                     FROM per GROUP BY 1),
          dfreq AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                    FROM per GROUP BY 1),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM totals)
          SELECT per.doc_id, per.token, per.tc, dfreq.df,
                 round(per.tc / totals.doc_total, 9) AS tf9,
                 round((per.tc / totals.doc_total) *
                       (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 9) AS tfidf9
          FROM per
          JOIN totals USING (doc_id)
          JOIN dfreq USING (token), n
        """,
        "section_features_roundtrip": """
          SELECT doc_id, CAST(p.page AS BIGINT) AS page,
                 CAST((doc_id*7 + p.page) % 100 + (doc_id*5 + p.page) % 100 AS BIGINT) AS "tokenCount",
                 CAST((doc_id + p.page*3) % 50 + (doc_id + p.page*2) % 50 AS BIGINT) AS "lineCount",
                 CAST((p.page*7) % 5 + (p.page*5) % 5 AS BIGINT) AS "emptyLineCount",
                 CAST((doc_id*3 + p.page) % 30 + (doc_id*2 + p.page) % 30 AS BIGINT) AS "sentenceCount",
                 CAST((doc_id + p.page + 7) % 9 + (doc_id + p.page + 5) % 9 AS BIGINT) AS "capAlphaSeq"
          FROM documents CROSS JOIN (VALUES (1), (2), (3)) AS p(page)
        """,
        "line_chars_roundtrip": """
          SELECT doc_id, CAST(p.page AS BIGINT) AS page, c.ch AS char,
                 CAST((doc_id*3 + p.page + ascii(c.ch)) % 40 + 1
                    + (doc_id*11 + p.page + ascii(c.ch)) % 40 + 1 AS BIGINT) AS count
          FROM documents
          CROSS JOIN (VALUES (1), (2)) AS p(page)
          CROSS JOIN (VALUES ('a'), ('b'), ('z')) AS c(ch)
        """,
        "page_features_roundtrip": """
          SELECT doc_id, CAST(p.page AS BIGINT) AS page,
                 'v' || CAST(doc_id % 4 AS VARCHAR) AS version,
                 lang AS calc_lang,
                 lang || ':1.0' AS languages_csv
          FROM documents CROSS JOIN (VALUES (1), (2)) AS p(page)
        """,
        "line_dedup": """
          WITH lined AS (
            SELECT doc_id,
                   array_to_string(
                     list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
                                    i -> array_to_string(list_slice(w, i*10+1, i*10+10), ' ')),
                     chr(10)) AS text
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
          lines AS (
            SELECT doc_id,
                   unnest(string_split(text, chr(10))) AS line,
                   generate_subscripts(string_split(text, chr(10)), 1) AS pos
            FROM lined),
          boiler AS (
            SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
            GROUP BY line HAVING count(*) >= 3),
          kept AS (SELECT lines.* FROM lines ANTI JOIN boiler USING (line)),
          rebuilt AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_deduped
            FROM kept GROUP BY doc_id)
          SELECT d.doc_id, md5(coalesce(r.text_deduped, '')) AS dedup_md5,
                 CAST(length(coalesce(r.text_deduped, '')) AS BIGINT) AS n_chars
          FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        """,
        "fingerprint": r"""
          SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
          FROM documents
        """,
        "bpe_token_count": r"""
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
          FROM documents
        """,
        "pack_sequences": _pack_sequences_sql(),
        "decontaminate": _decontaminate_sql(),
        "sample_mixture": _sample_mixture_sql(),
        "tokenize_hash": _tokenize_hash_sql(),
        # unpack(pack(tokenize(docs))) must be the tokenizer identity
        "unpack_roundtrip": _tokenize_hash_sql(),
        "repetition": _repetition_sql(),
        "take_per_source": _take_per_source_sql(),
        "incremental_dedup": _incremental_dedup_sql(),
        "incremental_near_dup": _incremental_neardup_sql(),
        "incremental_clean": _incremental_clean_sql(),
        "unigram_logprob": _unigram_logprob_sql(),
        "ngram_novelty": _ngram_novelty_sql(),
        "source_overlap": _source_overlap_sql(),
        "range_join": _range_join_sql(),
        "dup_spans": _dup_spans_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "dup_span_removal": _dup_span_removal_sql(),
        "asof_nearest": _ASOF_NEAREST_SQL,
        "distinct_sampled": _distinct_sampled_sql(),
        "temporal_split": _temporal_split_sql(),
        "char_entropy": _CHAR_ENTROPY_SQL,
        "group_quantile": f"""
          SELECT source AS "group",
                 CAST(quantile_disc(n_chars, {_GQ_Q}) AS BIGINT) AS threshold
          FROM documents GROUP BY 1
        """,
        "quantile_gate": _quantile_gate_sql(),
        "sample_per_group": _sample_per_group_sql(),
        "nb_classify": _nb_classify_sql(),
        "trailing_features": _trailing_features_sql(),
        "dsir_weights": _dsir_weights_sql(),
        "importance_resample": _importance_resample_sql(),
        "bigram_logprob": _bigram_logprob_sql(),
        "token_drift": _token_drift_sql(),
        "split_by_hash": _split_by_hash_sql(),
        "shuffle_order": _shuffle_order_sql(),
        "length_bucket": _length_bucket_sql(),
        "bm25": _bm25_sql(),
        "pii": _pii_sql(),
        "corpus_stats": _corpus_stats_sql(),
        "boilerplate": _boilerplate_sql(),
        "top_terms": _top_terms_sql(),
        "jsonl_quarantine": "SELECT doc_id, text, lang, source, n_chars FROM documents",
        "seq_minhash": _seq_minhash_sql(),
        "mixture_epochs": _mixture_epochs_sql(),
        "pack_padded": _pack_padded_sql(),
        "multimodal_meta": """
          SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents
        """,
        # both round-trips must return exactly the grouped token table the
        # sink consumed — the oracle recomputes it straight from documents
        "quad_roundtrip": f"""
          SELECT doc_id, page, token, CAST(count(*) AS BIGINT) AS count
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2, 3
        """,
        "quad_prefold_roundtrip": f"""
          SELECT doc_id, lower(token) AS lowercase, CAST(count(*) AS BIGINT) AS count
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2
        """,
        "ef_json_roundtrip": f"""
          SELECT doc_id, page, token, CAST(count(*) AS BIGINT) AS count
          FROM ({_SQL_TOKENS}) GROUP BY 1, 2, 3
        """,
        "metadata_roundtrip": """
          SELECT doc_id,
                 'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                 CAST(1900 + doc_id % 100 AS VARCHAR) AS pub_date,
                 lang AS language,
                 source AS names_csv,
                 'fiction,not fiction' AS genre_csv,
                 source AS source_institution,
                 'open' AS access_profile,
                 CAST(1 AS BIGINT) AS page_count,
                 'https://example.org/bib/' || CAST(doc_id AS VARCHAR) AS ht_bib_url,
                 'hdl/2027/' || CAST(doc_id AS VARCHAR) AS handle_url,
                 'Imprint ' || CAST(doc_id % 7 AS VARCHAR) AS imprint,
                 'isbn-' || CAST(doc_id AS VARCHAR) AS isbn_csv,
                 'oclc-' || CAST(doc_id AS VARCHAR) AS oclc_csv,
                 'monographic' AS issuance,
                 'BK' AS bibliographic_format,
                 doc_id % 2 = 0 AS government_document,
                 'pd' AS rights_attributes,
                 'xx' AS pub_place,
                 'text' AS type_of_resource,
                 CAST(1900 + doc_id % 100 AS VARCHAR) AS date_created,
                 'v.' || CAST(doc_id % 5 AS VARCHAR) AS enumeration_chronology
          FROM documents
        """,
        "stopword_filter": f"""
          SELECT doc_id, token, count(*) AS cnt
          FROM ({_SQL_TOKENS})
          WHERE token NOT IN {_STOPWORDS!r}
          GROUP BY 1, 2
        """,
        "embedding_near_dup": _near_dup_sql(),
        "chunked_tokenlist": _chunked_sql(),
        "chunked_tokenlist_ends": _chunked_two_sided_sql(False),
        "chunked_tokenlist_even": _chunked_two_sided_sql(True),
        "section_group": f"""
          WITH toks AS (
            SELECT doc_id,
                   CAST(((ord - 1) // {PAGE_SIZE}) + 1 AS BIGINT) AS page,
                   CASE WHEN (ord - 1) % 7 = 0 THEN 'header'
                        WHEN (ord - 1) % 7 = 6 THEN 'footer'
                        ELSE 'body' END AS section,
                   tok AS token
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                         generate_subscripts(string_split(text, ' '), 1) AS ord
                  FROM documents)),
          feats AS (
            SELECT doc_id, page, section,
                   count(*) AS tokenCount,
                   count(DISTINCT token) AS lineCount
            FROM toks GROUP BY 1, 2, 3)
          SELECT doc_id, page,
                 CAST(sum(tokenCount) AS BIGINT) AS tokenCount,
                 CAST(sum(lineCount) AS BIGINT) AS lineCount
          FROM feats GROUP BY 1, 2
        """,
    }
