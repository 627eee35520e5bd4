"""North-rule pipeline over the sequences table: generator determinism,
token-array byte equality through the pipeline and a parquet round-trip,
feature parity vs a pandas oracle (allclose), leakage-freedom under
duplicate timestamps."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.features import build_pit_features
from htrc_feature_reader_spark.synth import generate_sequences


def test_generator_deterministic(spark):
    a = generate_sequences(spark, 500, n_docs=20, seed=7).toPandas()
    b = generate_sequences(spark, 500, n_docs=20, seed=7).toPandas()
    a = a.sort_values(["doc_id", "ts", "n_tok"]).reset_index(drop=True)
    b = b.sort_values(["doc_id", "ts", "n_tok"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # partitioning must not change content (scale-invariance of the generator)
    c = generate_sequences(spark, 500, n_docs=20, seed=7, n_partitions=13).toPandas()
    c = c.sort_values(["doc_id", "ts", "n_tok"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, c)


def test_generator_invariants(sequences_df):
    df = sequences_df
    assert df.filter(F.size("tokens") != F.col("n_tok")).count() == 0
    assert df.filter((F.col("n_tok") < 1) | (F.col("n_tok") > 2000)).count() == 0
    # skew exists: hottest doc has > 3x the mean rows
    counts = [r["n"] for r in df.groupBy("doc_id").agg(F.count("*").alias("n")).collect()]
    assert max(counts) > 3 * (sum(counts) / len(counts))


def test_token_array_byte_equality(sequences_df, tmp_path):
    """The per-row invariant (BASELINE.json): tokens arrays survive the
    feature build and a parquet round-trip byte-equal."""
    feats = build_pit_features(sequences_df)
    out = str(tmp_path / "feats")
    feats.write.mode("overwrite").parquet(out)
    back = feats.sparkSession.read.parquet(out)

    def canon(df):
        pdf = df.select("doc_id", "ts", "n_tok", "tokens").toPandas()
        pdf["tok_bytes"] = pdf["tokens"].map(
            lambda a: np.asarray(a, dtype=np.int32).tobytes()
        )
        return (
            pdf.drop(columns=["tokens"])
            .sort_values(["doc_id", "ts", "n_tok", "tok_bytes"])
            .reset_index(drop=True)
        )

    src = canon(sequences_df)
    got = canon(back)
    pd.testing.assert_frame_equal(src, got)


def _pandas_pit_oracle(pdf: pd.DataFrame, session_gap_s: float = 1800.0) -> pd.DataFrame:
    """Reference semantics in pandas: per (doc, ts) cumulative features over
    rows with ts' <= ts (range semantics — duplicate ts included together),
    per-(doc, source) and per-source cumulatives the same way, and the
    timeline features in (ts, n_tok, sum_tok) order on integer micros."""
    pdf = pdf.copy()
    pdf["sum_tok"] = pdf["tokens"].map(lambda a: int(np.sum(np.asarray(a, dtype=np.int64))))
    pdf["n_distinct"] = pdf["tokens"].map(lambda a: len(set(a)))
    pdf["ts_us"] = pdf["ts"].astype("datetime64[us]").astype(np.int64)
    gap_us = int(round(session_gap_s * 1_000_000))

    out = []
    for doc, grp in pdf.groupby("doc_id"):
        grp = grp.sort_values(["ts", "n_tok", "sum_tok"], kind="mergesort")
        prev_us = grp["ts_us"].shift()
        new_session = prev_us.isna() | (grp["ts_us"] - prev_us > gap_us)
        for (_, row), prev, session in zip(grp.iterrows(), prev_us, new_session.cumsum()):
            upto = grp[grp["ts"] <= row["ts"]]
            src_upto = pdf[(pdf["source"] == row["source"]) & (pdf["ts"] <= row["ts"])]
            out.append(
                {
                    "doc_id": doc,
                    "ts": row["ts"],
                    "n_tok": row["n_tok"],
                    "sum_tok": row["sum_tok"],
                    "seq_idx": len(upto),
                    "cum_n_tok": int(upto["n_tok"].sum()),
                    "cum_sum_tok": int(upto["sum_tok"].sum()),
                    "doc_src_cum_n_tok": int(
                        upto.loc[upto["source"] == row["source"], "n_tok"].sum()
                    ),
                    "src_cum_n_tok": int(src_upto["n_tok"].sum()),
                    "gap_s": (row["ts_us"] - prev) / 1_000_000.0,
                    "session_id": int(session),
                }
            )
    o = pd.DataFrame(out)
    o["mean_n_tok"] = o["cum_n_tok"] / o["seq_idx"]
    o["mean_token_id"] = o["cum_sum_tok"] / o["cum_n_tok"]
    return o.sort_values(["doc_id", "ts", "n_tok", "sum_tok"]).reset_index(drop=True)


def test_features_match_pandas_oracle(spark):
    seqs = generate_sequences(spark, 800, n_docs=12, seed=11)
    got = (
        build_pit_features(seqs)
        .select("doc_id", "ts", "n_tok", "sum_tok", "seq_idx", "cum_n_tok",
                "cum_sum_tok", "mean_n_tok", "mean_token_id", "n_distinct", "src_share",
                "doc_src_cum_n_tok", "src_cum_n_tok", "gap_s", "session_id")
        .toPandas()
        .sort_values(["doc_id", "ts", "n_tok", "sum_tok"])
        .reset_index(drop=True)
    )
    expect = _pandas_pit_oracle(seqs.toPandas())
    for col in ("seq_idx", "cum_n_tok", "cum_sum_tok", "doc_src_cum_n_tok",
                "src_cum_n_tok", "session_id"):
        assert (got[col].to_numpy(np.int64) == expect[col].to_numpy(np.int64)).all(), col
    # both sides divide the same integer micros difference: exact, NaN first
    np.testing.assert_array_equal(got["gap_s"].to_numpy(float), expect["gap_s"].to_numpy(float))
    for col in ("mean_n_tok", "mean_token_id"):
        assert np.allclose(got[col].to_numpy(), expect[col].to_numpy()), col
    assert ((got["src_share"] > 0) & (got["src_share"] <= 1)).all()


def test_features_leakage_free_under_duplicates(spark):
    """Appending future rows must not change any feature at earlier ts;
    duplicate-ts rows must see each other (range frame), deterministically
    across partitionings."""
    base = generate_sequences(spark, 400, n_docs=8, seed=3)
    cutoff = "2024-01-01 02:00:00"
    early = base.filter(F.col("ts") <= cutoff)
    feats_early = (
        build_pit_features(early)
        .select("doc_id", "ts", "n_tok", "sum_tok", "seq_idx", "cum_n_tok", "src_cum_n_tok")
        .toPandas().sort_values(["doc_id", "ts", "n_tok", "sum_tok"]).reset_index(drop=True)
    )
    feats_all = (
        build_pit_features(base)
        .filter(F.col("ts") <= cutoff)
        .select("doc_id", "ts", "n_tok", "sum_tok", "seq_idx", "cum_n_tok", "src_cum_n_tok")
        .toPandas().sort_values(["doc_id", "ts", "n_tok", "sum_tok"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(feats_early, feats_all)
