"""Example spark-submit job: the COMPLETE training-shard assembly line,
raw documents -> eval-hygienic, mixture-weighted, deduped, packed,
globally shuffled shards — resumable after a crash.

    scripts/submit.sh [--master URL] scripts/shards_job.py \
        <documents_parquet> <out_dir> [snapshot_id] [seq_len]

Stages (one lazy plan up to the packing barrier):

1. :func:`split_by_hash` — train/val/test carve. Decisions depend only on
   (doc_id, seed), so corpus growth never migrates a test doc into train.
   The val/test MEMBERSHIP (ids + split) is persisted first: the holdout
   definition outlives this job.
2. :func:`mixture_rates_from_counts` + :func:`sample_mixture` —
   temperature sampling (alpha=0.3) over the observed per-source sizes;
   the counts aggregate is #sources-sized (driver-safe), the keep
   predicate folds into the train scan.
3. :func:`clean_corpus` — quality gate, language gate, exact dedup +
   signature-verified near-dup dedup, decontamination against the val-
   and test-split texts (13-gram overlap): eval hygiene both by
   construction (disjoint hash intervals) AND by content (no train doc
   shares shingles with the holdout).
4. :func:`tokenize` — the hash tokenizer (BPE-ish pretokenizer pieces
   mapped to ids by the rolling hash, folded into a 2^17 vocabulary).
5. :func:`pack_sequences` with ``checkpoint_dir`` — the corpus barrier is
   a RELIABLE checkpoint (staged write), so an executor loss mid-pack
   recomputes from the stage, not from nothing. The stage is a
   corpus-sized copy and Spark never auto-deletes reliable checkpoints
   (``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
   false) — this job deletes it itself once the shard write completes.
6. :func:`shuffle_sequences` — deterministic global pseudo-random order;
   shard files ascend by shuffle_key, so a loader reading files in name
   order replays the permutation.
7. :func:`resume_write` partitioned by shuffle-key range — per-partition
   lineage manifests; re-running completes only missing buckets.
"""

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators import (
    clean_corpus,
    pack_sequences,
    sample_mixture,
)
from htrc_feature_reader_spark.operators.hashing import MOD
from htrc_feature_reader_spark.operators.packing import (
    mixture_rates_from_counts,
    shuffle_sequences,
    split_by_hash,
)
from htrc_feature_reader_spark.operators.text import tokenize
from htrc_feature_reader_spark.plans import resume_write

N_BUCKETS = 64
SPLITS = {"train": 0.96, "val": 0.02, "test": 0.02}


def main() -> None:
    docs_path, out_dir = sys.argv[1], sys.argv[2]
    snapshot = sys.argv[3] if len(sys.argv) > 3 else "unversioned"
    seq_len = int(sys.argv[4]) if len(sys.argv) > 4 else 2048
    spark = SparkSession.builder.appName("shards-pipeline").getOrCreate()

    docs = split_by_hash(spark.read.parquet(docs_path), SPLITS, seed=101)

    # persist the holdout definition FIRST (ids only — tiny, append-proof)
    holdout = docs.filter(F.col("split") != "train")
    holdout.select("doc_id", "split").write.mode("overwrite").parquet(
        f"{out_dir}/holdout_ids"
    )

    train = docs.filter(F.col("split") == "train")
    counts = {
        r["source"]: r["c"]
        for r in train.groupBy("source").agg(F.count("*").alias("c")).collect()
    }
    rates = mixture_rates_from_counts(counts, alpha=0.3)
    mixed = sample_mixture(train, rates, seed=7)

    cleaned = clean_corpus(mixed, eval_df=holdout.select("doc_id", "text"))
    toked = tokenize(cleaned, vocab_size=1 << 17)

    packed = pack_sequences(
        toked.select("doc_id", "tokens"),
        seq_len,
        eos_token=1,
        drop_last=True,
        checkpoint_dir=f"{out_dir}/_pack_stage",  # durable barrier
    )
    shuffled = shuffle_sequences(packed, key_col="seq_id", seed=29)
    out = shuffled.withColumn(
        "bucket",
        F.lpad(
            (
                F.col("shuffle_key") / F.lit(MOD // N_BUCKETS + 1)
            ).cast("int").cast("string"),
            3,
            "0",
        ),
    )
    # the shard TABLE gets its own subdir: holdout_ids/_pack_stage live
    # beside it, and a partitioned parquet root must contain only
    # bucket=* dirs or every reader (incl. plans.verify_output) trips on
    # conflicting directory structures
    manifest = resume_write(
        out, f"{out_dir}/shards", "bucket", snapshot_id=snapshot
    )
    # the shards are durably written: drop the corpus-sized checkpoint
    # stage (Spark never auto-deletes reliable checkpoints). Hadoop-FS
    # API, not shutil — the stage lives wherever out_dir does
    # (hdfs://, s3a://, ...). Crash before this line leaves the stage
    # for the resumed run; crash-resume re-stages and re-cleans.
    stage = spark._jvm.org.apache.hadoop.fs.Path(f"{out_dir}/_pack_stage")
    stage.getFileSystem(spark._jsc.hadoopConfiguration()).delete(stage, True)
    print(
        f"sources={len(counts)} rates_min={min(rates.values()):.3f} "
        f"buckets_complete={len(manifest['partitions'])}/{N_BUCKETS}"
    )


if __name__ == "__main__":
    main()
