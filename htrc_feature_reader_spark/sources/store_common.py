"""Shared shard-store plumbing for the incremental dedup stores
(:mod:`.digest_store`, :mod:`.signature_store`): both are append-only
directories of parquet shards with the same read/compact contract, so the
existence probe and the compaction dance live once here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import _job


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty DataFrame of the DDL ``schema``, planned on the JVM alone.
    ``createDataFrame([], schema)`` parallelizes a Python list, so every
    plan that reads it runs a PythonRDD and forks Python workers for zero
    rows; ``range(0)`` under typed NULLs costs no Python at all."""
    from pyspark.sql.types import DataType

    return spark.range(0).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in DataType.fromDDL(schema).fields
    ])


def require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """Eagerly reject non-integral id columns before any store write.

    The store schemas pin ids to ``long``; with ANSI off, a string id
    (e.g. a native htid) silently casts to NULL on append — every stored
    row would carry id NULL, and a later ``compact_*_store``'s
    one-row-per-id rule would collapse the entire history to ONE row:
    silent permanent loss of dedup history. With ANSI on, the cast errors
    only mid-job, after data may already have landed at ``out_path``.
    Same dtype contract as ``hashing.key_hash``'s integral
    branch (byte/short/int/long); string-keyed corpora should derive a
    stable integral id first (a 31-bit rolling hash is NOT enough at
    10^9 docs — use e.g. ``xxhash64(id)`` and keep the string id as an
    ordinary provenance column)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{op}: id column {id_col!r} has type {dt.simpleString()}; "
            "the shard stores require an integral id (byte/short/int/"
            "long) — a string id would cast to NULL on append (ANSI off) "
            "and collapse the store's history at the next compact. Derive "
            "a stable integral id (e.g. F.xxhash64(id)) before ingesting."
        )


def read_shard_store(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """A shard store as a DataFrame of ``schema``. A missing/empty path
    reads as an empty relation (:func:`empty_frame`; first ingest needs
    no special casing);
    existence is probed through the Hadoop FileSystem API, NOT
    ``os.path`` — the store lives wherever Spark can write (hdfs://,
    s3a://, ...), and a driver-local ``os.path.isdir`` on such a URI is
    always False, which would silently read every remote store as EMPTY
    and re-admit all previously-seen documents. A genuinely
    missing/shard-less path is the only case that reads empty; any other
    read failure propagates."""
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return empty_frame(spark, schema)
    it = fs.listFiles(hpath, True)  # recursive
    has_shard = False
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            has_shard = True
            break
    if not has_shard:
        return empty_frame(spark, schema)
    return spark.read.schema(schema).parquet(path)


def compact_shard_store(
    spark: SparkSession,
    path: str,
    schema: str,
    dedup: Callable[[DataFrame], DataFrame],
) -> None:
    """Rewrite a shard store as ``dedup(store)`` in one shard set. The
    deduped relation is pinned (localCheckpoint) so it is fully read
    BEFORE the overwrite starts — an overwrite whose source still lazily
    scans the target would read its own partially-deleted input."""
    with _job("compact_shard_store: pin"):
        compacted = dedup(read_shard_store(spark, path, schema)).localCheckpoint(
            eager=True
        )
    with _job("compact_shard_store: overwrite"):
        compacted.write.mode("overwrite").parquet(path)
