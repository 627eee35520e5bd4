"""HathiTrust id/path utilities (operators C3/C4, source S10).

Pure driver-side path math replicating the reference's id sanitization and
pairtree/stubbytree layouts (/root/reference/htrc_features/utils.py:9-22,
38-77, 206-247). In the Spark engine these only matter at ingest time —
turning a manifest of ids into a list of paths for ``spark.read`` — the
resolver/cache layer itself (resolvers.py, caching.py) is replaced by
catalog tables.
"""

from __future__ import annotations

import os

_ENC = {":": "+", "/": "=", ".": ","}
_DEC = {v: k for k, v in _ENC.items()}


def id_encode(vol_id: str) -> str:
    """Sanitize the volume part of an id for filesystem use (utils.py:9-14)."""
    for a, b in _ENC.items():
        vol_id = vol_id.replace(a, b)
    return vol_id


def id_decode(vol_id: str) -> str:
    """Inverse of :func:`id_encode` (utils.py:16-21)."""
    for a, b in _DEC.items():
        vol_id = vol_id.replace(a, b)
    return vol_id


def clean_htid(htid: str) -> str:
    """lib.vol -> lib.sanitized_vol (utils.py:56-63)."""
    lib, vol = htid.split(".", 1)
    return f"{lib}.{id_encode(vol)}"


def extract_htid(filename: str) -> str:
    """Strip compression/format/part suffixes and undo sanitization
    (utils.py:38-54)."""
    for suffix in (".gz", ".bz2"):
        if filename.endswith(suffix):
            filename = filename[: -len(suffix)]
    for suffix in (".json", ".parquet"):
        if filename.endswith(suffix):
            filename = filename[: -len(suffix)]
    for suffix in (".meta", ".tokens", ".chars", ".section"):
        if filename.endswith(suffix):
            filename = filename[: -len(suffix)]
    return id_decode(filename)


def pairtree_path(htid: str) -> str:
    """Every-2-chars directory split of the sanitized volume id
    (utils.py:66-77): lib/pairtree_root/xx/yy/../<clean_vol>/."""
    lib, vol = htid.split(".", 1)
    clean = id_encode(vol)
    parts = [clean[i : i + 2] for i in range(0, len(clean), 2)]
    return os.path.join(lib, "pairtree_root", *parts, clean)


def stubbytree_path(htid: str) -> str:
    """libid + every-3rd-char directory (utils.py:206-233):
    lib/<c0 c3 c6 ...>/."""
    lib, vol = htid.split(".", 1)
    clean = id_encode(vol)
    return os.path.join(lib, clean[::3])


def stubbytree_filename(htid: str, fmt: str = "json", compression: str | None = "bz2") -> str:
    """Full stubbytree-relative file path for a volume file."""
    name = clean_htid(htid) + "." + fmt
    if compression:
        name += "." + compression
    return os.path.join(stubbytree_path(htid), name)

