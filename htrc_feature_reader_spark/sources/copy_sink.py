"""Byte-faithful EF volume copy (operator S9, the reference's copy path).

The reference's JSON ``write`` is a file copy: when source and target
compression match it moves the raw bytes untouched (``skip_compression``,
parsers.py:252-272), re/de-compressing only on a codec change. The
distributed analog: ``spark.read.format("binaryFile")`` fans the source
files across executors, a ``mapInPandas`` stage transcodes (or passes
through) each payload, and every task writes its own destination files —
no driver-side loop, no shuffle, linear scale-out in #files.

Returns a lineage/metrics DataFrame (src, dest, n_bytes_in, n_bytes_out,
skipped_recompression) rather than nothing — the same
observability-by-default contract as ``plans/manifest.py``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store_common import empty_frame

_CODEC_EXT = {"bz2": ".bz2", "gz": ".gz", None: ""}


def _codec_of(path: str) -> str | None:
    if path.endswith(".bz2"):
        return "bz2"
    if path.endswith(".gz"):
        return "gz"
    return None


def _decode(payload: bytes, codec: str | None) -> bytes:
    if codec == "bz2":
        import bz2

        return bz2.decompress(payload)
    if codec == "gz":
        import gzip

        return gzip.decompress(payload)
    return payload


def _encode(payload: bytes, codec: str | None) -> bytes:
    if codec == "bz2":
        import bz2

        return bz2.compress(payload)
    if codec == "gz":
        import gzip

        # mtime=0: deterministic output (gzip headers embed a timestamp)
        import io

        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(payload)
        return buf.getvalue()
    return payload


def copy_volumes(
    spark: SparkSession,
    src_glob: str,
    dest_dir: str,
    compression: str | None = "same",
) -> DataFrame:
    """Copy EF volume files byte-faithfully, distributed.

    ``compression='same'`` (the reference's ``skip_compression`` fast
    path) never decodes the payload — source bytes land verbatim.
    ``compression in {'bz2', 'gz', None}`` transcodes file-by-file.
    The returned DataFrame is the copy's lineage record; the copy runs
    when it is materialized (``.collect()`` or write it somewhere). One
    metadata-only listing aggregate DOES run eagerly at call time to
    detect destination-name collisions globally — files added to the
    source after this call are not covered; call again for them.

    Destination files keep the source basename (with the codec extension
    swapped on transcode), mirroring the reference's resolver naming;
    colliding destination names get a stable path-hash prefix. Collisions
    are detected BOTH within this call's source listing AND against files
    already in ``dest_dir`` from earlier ``copy_volumes`` runs: every task
    appends (dest name -> source path) provenance records to
    ``dest_dir/.copy_manifest/``, and a new run hash-prefixes any dest
    name recorded under a DIFFERENT source — re-running the same copy
    stays idempotent (same source -> same name -> clean overwrite), while
    a different source can never silently clobber a prior copy. A dest
    name present on disk with no record at all (e.g. published by a run
    that crashed before its manifest shard landed) is byte-compared in the
    copying task: identical content republishes under the plain name and
    records the missing provenance (self-healing, no duplicate minted);
    different content gets the hash prefix. Provenance and existing-name
    checks are Spark-side (distributed dest listing, content pruned);
    only actual conflicts are ever collected to the driver.
    Requires ``dest_dir`` to be a task-writable shared filesystem — true
    for local mode and for clusters mounting a shared store.
    """
    if compression not in ("same", "bz2", "gz", None):
        raise ValueError(f"unknown compression {compression!r}")
    os.makedirs(dest_dir, exist_ok=True)
    files = spark.read.format("binaryFile").load(src_glob)

    # Sources mapping to the same DESTINATION name (same basename from
    # different dirs, or distinct basenames converging after the codec-
    # extension swap on transcode, e.g. vol.json + vol.json.gz -> gz)
    # would silently last-writer-win in a flat dest_dir: detect collisions
    # on the computed dest name with one metadata-only aggregate (content
    # column pruned away) and disambiguate those — and only those — with a
    # stable 8-hex prefix of the full source path. This listing aggregate
    # runs eagerly at call time (the dupe set must be global); the COPY
    # itself runs when the returned DataFrame is materialized.
    base = F.element_at(F.split("path", "/"), -1)
    if compression == "same":
        dest_name = base
    else:
        root = F.regexp_replace(base, r"\.(bz2|gz)$", "")
        dest_name = F.concat(root, F.lit(_CODEC_EXT[compression]))
    dupe_bases = {
        r["b"]
        for r in files.select(dest_name.alias("b"))
        .groupBy("b").count().filter(F.col("count") > 1).collect()
    }

    # Cross-RUN collisions: a dest name already present from a previous
    # copy_volumes run with a different source (or a foreign file with no
    # provenance record) must not be clobbered. Provenance lives in task-
    # written shards under dest_dir/.copy_manifest/ — joined Spark-side so
    # only the conflicting names (not the corpus of files) hit the driver.
    manifest_dir = os.path.join(dest_dir, ".copy_manifest")
    src_local = F.regexp_replace("path", "^file:", "")
    planned = files.select(src_local.alias("src"), dest_name.alias("b"))
    if os.path.isdir(manifest_dir) and any(
        e.endswith(".json") for e in os.listdir(manifest_dir)
    ):
        man = (
            spark.read.schema("b string, src string")
            .json(os.path.join(manifest_dir, "*.json"))
            .dropna().distinct()
        )
    else:
        man = empty_frame(spark, "b string, src string")
    # Names where at least one planned source differs from a recorded one.
    # The decision must be per-ROW, not per-name: if recorded source A is
    # re-copied alongside a new colliding source B, prefixing the whole
    # name would ALSO prefix A's copy, leaving A's content at both the
    # plain name (prior run) and the prefixed name — minting exactly the
    # duplicate this machinery exists to prevent. So ship a
    # name -> recorded-sources map into the task and prefix only rows
    # whose own source is not among the recorded ones.
    conflicting = (
        planned.join(man.withColumnRenamed("src", "__rec_src"), on="b")
        .filter(F.col("src") != F.col("__rec_src"))
        .select("b").distinct()
    )
    # Existing dest names via a DISTRIBUTED metadata listing (binaryFile
    # with only `path` selected prunes the content column; Spark's hidden-
    # file rule skips .copy_manifest) — an os.listdir + createDataFrame
    # here would stall the driver on a dest_dir holding millions of
    # volumes. Parallel partition discovery kicks in above the listing
    # threshold, so the driver never holds the full name list.
    on_disk = (
        spark.read.format("binaryFile").load(dest_dir)
        .select(F.element_at(F.split("path", "/"), -1).alias("b"))
    )
    foreign = (
        planned.join(on_disk, on="b", how="left_semi")
        .join(man.select("b"), on="b", how="left_anti")
        .select("b").distinct()
    )
    rec_src_map = {
        r["b"]: set(r["srcs"])
        for r in man.join(conflicting, on="b", how="left_semi")
        .groupBy("b").agg(F.collect_set("src").alias("srcs")).collect()
    }
    # Unrecorded (foreign) collisions are resolved IN THE TASK by content
    # compare, not prefixed eagerly: a byte-identical existing file is this
    # very copy published before a crash killed its manifest write — prefix
    # it and every re-run would mint another duplicate of the same volume.
    foreign_bases = {r["b"] for r in foreign.collect()} - dupe_bases

    def copy_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import json
        import uuid

        def prefixed(base: str, src_path: str) -> str:
            # THE collision-naming contract: a stable 8-hex source-path
            # prefix (tests and cross-run idempotency rely on it)
            h8 = hashlib.sha1(src_path.encode()).hexdigest()[:8]
            return f"{h8}.{base}"

        written: list[tuple[str, str]] = []
        for pdf in batches:
            out = {
                "src": [], "dest": [], "n_bytes_in": [], "n_bytes_out": [],
                "skipped_recompression": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                local = path[len("file:"):] if path.startswith("file:") else path
                src_codec = _codec_of(local)
                dst_codec = src_codec if compression == "same" else compression
                base = os.path.basename(local)
                # final dest name FIRST (mirrors the dest_name expression
                # the dupe aggregate used), THEN collision disambiguation
                if compression == "same":
                    final_base = base
                else:
                    import re

                    final_base = (re.sub(r"\.(bz2|gz)$", "", base)
                                  + _CODEC_EXT[compression])
                skip = dst_codec == src_codec
                if skip:
                    payload = bytes(content)
                else:
                    payload = _encode(_decode(bytes(content), src_codec), dst_codec)
                if (
                    final_base in dupe_bases or final_base in rec_src_map
                ) and local not in rec_src_map.get(final_base, set()):
                    # collision (same-run duplicate basename and/or a
                    # prior-run record under a different source): prefix —
                    # UNLESS this row's own source is the recorded one, in
                    # which case the plain name is its idempotent
                    # overwrite; prefixing it would leave its content at
                    # both names, minting the very duplicate this
                    # machinery prevents
                    final_base = prefixed(final_base, local)
                elif final_base in foreign_bases:
                    # unrecorded existing file: byte-identical -> same copy
                    # from a crashed run (manifest write never landed) ->
                    # republish under the plain name, which also records
                    # the provenance and heals future runs; different
                    # bytes -> a genuinely foreign file, never clobbered
                    existing_path = os.path.join(dest_dir, final_base)
                    same = False
                    try:
                        if os.path.getsize(existing_path) == len(payload):
                            with open(existing_path, "rb") as ef:
                                same = ef.read() == payload
                    except OSError:
                        pass  # vanished between listing and copy: plain name
                    if not same and os.path.exists(existing_path):
                        final_base = prefixed(final_base, local)
                dest = os.path.join(dest_dir, final_base)
                tmp = dest + f".__tmp_{os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(payload)
                os.replace(tmp, dest)  # atomic publish, re-run idempotent
                written.append((final_base, local))
                out["src"].append(local)
                out["dest"].append(dest)
                out["n_bytes_in"].append(len(content))
                out["n_bytes_out"].append(len(payload))
                out["skipped_recompression"].append(skip)
            yield pd.DataFrame(out)
        if written:
            # provenance shard for future runs' collision checks; duplicate
            # records across task retries are harmless (read is distinct())
            os.makedirs(manifest_dir, exist_ok=True)
            shard = os.path.join(manifest_dir, f"{uuid.uuid4().hex}.json")
            tmp = shard + ".__tmp"
            with open(tmp, "w") as f:
                for b, s in written:
                    f.write(json.dumps({"b": b, "src": s}) + "\n")
            os.replace(tmp, shard)

    return files.select("path", "content").mapInPandas(
        copy_fn,
        schema=(
            "src string, dest string, n_bytes_in long, n_bytes_out long, "
            "skipped_recompression boolean"
        ),
    )
