"""Per-partition checkpoint manifests + resumable writes (north rule).

BASELINE.json requires execution "resumable from per-partition checkpoints
carrying lineage manifests (snapshot id, partition range, row counts,
digest)". The reference's analog is its caching resolver (copy to local
store on miss, /root/reference/htrc_features/caching.py:14-89) — per-volume;
ours is per-partition over corpus-scale outputs.

Design: outputs are written partitioned by an explicit bucket column
(``partition_col``); alongside the data we store ``_manifest.json`` with one
entry per partition value: row count + an order-insensitive content digest
(sum of xxhash64 over all columns — commutative, so shuffle order can't
change it) + the caller's snapshot id (e.g. an Iceberg snapshot or input
fingerprint). A resumed job recomputes only the partitions whose manifest
entry is missing; ``verify_output`` re-derives digests from the stored data
and flags corruption/drift.

The digest aggregation is one extra groupBy over data already being
written — map-side combinable, no second full shuffle when the write is
already partitioned by the same column.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"


def partition_digests(df: DataFrame, partition_col: str) -> DataFrame:
    """(partition, row_count, digest) — digest is the int64-wrapped sum of
    xxhash64 over every column, invariant to row order and partitioning."""
    # per-row hash reduced mod 2^31-1 so the commutative sum cannot
    # overflow int64 under ANSI mode for any realistic partition size.
    # Hash columns in NAME order with the partition col stringified, so the
    # digest is invariant to projection order and to the partition column
    # round-tripping through the directory layout.
    cols = [
        F.col(c).cast("string") if c == partition_col else F.col(c)
        for c in sorted(df.columns)
    ]
    h = F.pmod(F.xxhash64(*cols), F.lit(2147483647).cast("long"))
    return df.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(h).alias("digest"),
    ).select(F.col(partition_col).alias("partition"), "row_count", "digest")


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def read_manifest(path: str) -> dict:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return {"snapshot_id": None, "partitions": {}}
    with open(mp) as f:
        return json.load(f)


def _write_manifest(path: str, manifest: dict) -> None:
    # an empty input writes zero partitions, so no parquet write ever
    # created the directory — the manifest (with its snapshot id) must
    # still land so a later resume sees a completed, empty run
    os.makedirs(path, exist_ok=True)
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(path))


def resume_write(
    df: DataFrame,
    path: str,
    partition_col: str,
    snapshot_id: str = "unversioned",
) -> dict:
    """Write only the partitions missing from the manifest: on a fresh
    path, every partition with a full manifest; after a failure, the rest.

    A snapshot mismatch means the input changed since the checkpoint —
    refuse rather than silently mix lineages.

    Idempotent under crash-between-write-and-manifest: the todo partitions
    are written with DYNAMIC partition overwrite, so a partition whose data
    landed but whose manifest entry never did is REPLACED on the next
    resume, never appended to (append would silently duplicate its rows).
    Partitions already in the manifest are filtered out of the write set
    and therefore untouched by the dynamic overwrite.
    """
    manifest = read_manifest(path)
    if manifest["partitions"] and manifest.get("snapshot_id") != snapshot_id:
        raise ValueError(
            f"manifest snapshot {manifest.get('snapshot_id')!r} != requested "
            f"{snapshot_id!r}: input changed since checkpoint; use a fresh path"
        )
    done = set(manifest["partitions"])
    todo = df.filter(~F.col(partition_col).cast("string").isin(list(done))) if done else df
    new_digests = partition_digests(todo, partition_col).collect()
    if new_digests:
        (
            todo.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
    for r in new_digests:
        manifest["partitions"][str(r["partition"])] = {
            "row_count": r["row_count"],
            "digest": str(r["digest"]),
        }
    manifest["snapshot_id"] = snapshot_id
    manifest["partition_col"] = partition_col
    _write_manifest(path, manifest)
    return manifest


def _diff_output(spark: SparkSession, path: str) -> dict[str, str] | None:
    """Structured manifest-vs-data discrepancies: {partition: kind} with
    kind in {'missing', 'corrupt', 'unmanifested'}; None if no manifest."""
    manifest = read_manifest(path)
    pcol = manifest.get("partition_col")
    if not pcol:
        return None
    try:
        # The manifest keys partitions by the STRING value written into
        # the directory name; partition type inference would read
        # bucket=002 back as int 2 and every digest would "mismatch".
        # Inference runs eagerly at read time, so toggling the conf
        # around the read call is sufficient.
        infer = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(infer)
        spark.conf.set(infer, "false")
        try:
            stored = spark.read.parquet(path)
        finally:
            spark.conf.set(infer, prev)
    except Exception:
        # Only treat a read failure as total data loss when the partition
        # dirs are actually GONE (just _manifest.json left) — that's the
        # case repair_write must rebuild. Any other failure (permissions,
        # transient FS error, corrupt footer with data present) must
        # surface, not masquerade as every-partition-missing and trigger
        # a full rewrite.
        if not any(e.startswith(f"{pcol}=") for e in os.listdir(path)):
            return {p: "missing" for p in manifest["partitions"]}
        raise
    # partition column comes back from the directory layout; normalize order
    cols = [c for c in stored.columns if c != pcol] + [pcol]
    recomputed = {
        str(r["partition"]): (r["row_count"], str(r["digest"]))
        for r in partition_digests(stored.select(*cols), pcol).collect()
    }
    problems: dict[str, str] = {}
    for part, meta in manifest["partitions"].items():
        if part not in recomputed:
            problems[part] = "missing"
        elif (meta["row_count"], meta["digest"]) != recomputed[part]:
            problems[part] = "corrupt"
    for part in recomputed:
        if part not in manifest["partitions"]:
            problems[part] = "unmanifested"
    return problems


def verify_output(spark: SparkSession, path: str) -> list[str]:
    """Recompute per-partition digests from stored data; return a list of
    discrepancies (empty == clean)."""
    diff = _diff_output(spark, path)
    if diff is None:
        return ["no manifest"]
    msgs = {
        "missing": "partition {p} missing from data",
        "corrupt": "partition {p}: manifest digest != data digest",
        "unmanifested": "partition {p} present in data but not manifest",
    }
    return [msgs[kind].format(p=p) for p, kind in sorted(diff.items())]


def invalidate_partitions(path: str, partitions: list[str]) -> dict:
    """Evict partitions from the manifest so the next ``resume_write``
    recomputes them (their data, if any, is replaced by the dynamic
    overwrite — never appended to)."""
    manifest = read_manifest(path)
    for p in partitions:
        manifest["partitions"].pop(str(p), None)
    _write_manifest(path, manifest)
    return manifest


def repair_write(
    df: DataFrame,
    path: str,
    partition_col: str,
    snapshot_id: str = "unversioned",
) -> dict:
    """Detect out-of-band damage (data deleted or corrupted AFTER its
    manifest entry landed — the failure mode plain ``resume_write`` cannot
    see, since it trusts the manifest) and rewrite exactly the damaged
    partitions. One verification scan + one partial write; healthy
    partitions are never rewritten."""
    spark = df.sparkSession
    diff = _diff_output(spark, path) or {}
    bad = [p for p, kind in diff.items() if kind in ("missing", "corrupt")]
    if bad:
        invalidate_partitions(path, bad)
    return resume_write(df, path, partition_col, snapshot_id=snapshot_id)
