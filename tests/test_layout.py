"""Timeline layout: range partition + secondary sort (north-rule physical
layout). Checks partition disjointness, in-file ordering, and the pruning
win (tight parquet min/max -> fewer files read)."""

from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.layout import layout_timeline
from htrc_feature_reader_spark.synth import generate_sequences


def test_layout_partitions_are_disjoint_and_sorted(spark, sequences_df):
    laid = layout_timeline(sequences_df, n_partitions=8)

    def check(it):
        import pandas as pd
        rows = list(it)
        for pdf in rows:
            keys = list(zip(pdf["doc_id"], pdf["ts"]))
            assert keys == sorted(keys), "not sorted within partition"
            yield pd.DataFrame({"lo_doc": [pdf["doc_id"].iloc[0]], "hi_doc": [pdf["doc_id"].iloc[-1]],
                                "lo_ts": [str(pdf["ts"].iloc[0])], "hi_ts": [str(pdf["ts"].iloc[-1])]})

    bounds = laid.select("doc_id", "ts").mapInPandas(
        check, schema="lo_doc string, hi_doc string, lo_ts string, hi_ts string"
    ).collect()
    spans = sorted(((r["lo_doc"], r["lo_ts"]), (r["hi_doc"], r["hi_ts"])) for r in bounds)
    for (prev_lo, prev_hi), (lo, hi) in zip(spans, spans[1:]):
        assert prev_hi <= lo, "partition ranges overlap"


def test_layout_roundtrip_and_counts(spark, sequences_df, tmp_path):
    p = str(tmp_path / "laid")
    layout_timeline(sequences_df, n_partitions=8).write.parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == sequences_df.count()
    assert back.agg(F.sum("n_tok")).first()[0] == sequences_df.agg(F.sum("n_tok")).first()[0]


def test_layout_enables_file_pruning(spark, tmp_path):
    """A single-entity predicate on the laid-out table must scan fewer
    files than the table has (min/max pruning)."""
    seqs = generate_sequences(spark, 5000, n_docs=50, seed=9)
    p = str(tmp_path / "pruned")
    layout_timeline(seqs, n_partitions=10).write.parquet(p)
    q = spark.read.parquet(p).filter(F.col("doc_id") == "doc000049")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the filter is pushed to the scan
    assert "doc000049" in plan
    # and the scan reads only the file(s) whose range covers that doc
    import glob
    n_files = len(glob.glob(p + "/part-*"))
    scanned = q.select(F.input_file_name()).distinct().count()
    assert n_files >= 8
    assert scanned <= 2, f"expected pruned scan, read {scanned}/{n_files} files"
