"""Byte-faithful distributed volume copy (S9 copy path): same-compression
copies are byte-equal to the source; transcodes re-ingest identically."""

import bz2
import json
import os

import pytest

from htrc_feature_reader_spark.sources.copy_sink import copy_volumes
from htrc_feature_reader_spark.sources.ef_json import read_ef_json, tokenlist_from_ef
from htrc_feature_reader_spark.synth import make_ef_volume_dict

DATA = "/root/reference/tests/data"
FIXTURE = f"{DATA}/frankenstein-15pages.json.bz2"

# only the reference source needs the reference tree; the synthetic
# source and the other tests write their own temp files and run on
# every host
needs_fixture = pytest.mark.skipif(
    not os.path.isfile(FIXTURE), reason="reference fixtures not present"
)


@pytest.fixture(params=[pytest.param("reference", marks=needs_fixture), "synth"])
def source(request, tmp_path):
    """One bz2 EF-JSON volume: the reference fixture, or a synthetic
    volume written in ``tmp_path``."""
    if request.param == "reference":
        return FIXTURE
    src = tmp_path / "src" / "syn.vol000.json.bz2"
    src.parent.mkdir()
    src.write_bytes(bz2.compress(json.dumps(make_ef_volume_dict("syn.vol000")).encode()))
    return str(src)


def test_same_compression_copy_is_byte_equal(spark, tmp_path, source):
    dest = str(tmp_path / "copies")
    metrics = {r["src"]: r for r in copy_volumes(spark, source, dest).collect()}
    assert len(metrics) == 1
    rec = metrics[source]
    assert rec["skipped_recompression"] is True
    with open(source, "rb") as f:
        src_bytes = f.read()
    with open(rec["dest"], "rb") as f:
        assert f.read() == src_bytes  # byte-faithful, never decoded
    assert rec["n_bytes_in"] == rec["n_bytes_out"] == len(src_bytes)


def test_transcode_roundtrips_content(spark, tmp_path, source):
    dest = str(tmp_path / "gz")
    rec = copy_volumes(spark, source, dest, compression="gz").collect()[0]
    assert rec["skipped_recompression"] is False
    assert rec["dest"].endswith(".json.gz")
    # decoded content identical to the bz2 source's
    import gzip

    with open(rec["dest"], "rb") as f:
        got = gzip.decompress(f.read())
    with open(source, "rb") as f:
        assert got == bz2.decompress(f.read())
    # and the engine ingests the transcoded file to the same tokenlist
    a = tokenlist_from_ef(read_ef_json(spark, source, multiline=True))
    b = tokenlist_from_ef(read_ef_json(spark, rec["dest"], multiline=True))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def _dest_files(dest):
    return [e for e in os.listdir(dest) if e != ".copy_manifest"]


def test_rerun_idempotent(spark, tmp_path, source):
    dest = str(tmp_path / "copies")
    copy_volumes(spark, source, dest).collect()
    copy_volumes(spark, source, dest).collect()  # overwrite, not append
    assert len(_dest_files(dest)) == 1


def test_cross_run_collision_never_clobbers(spark, tmp_path):
    """A later run copying a DIFFERENT source to the same dest name must
    hash-prefix its file, not last-writer-win over the earlier copy; a
    foreign file (present with no provenance record) is protected too."""
    src_a = tmp_path / "a" / "vol.json"
    src_b = tmp_path / "b" / "vol.json"
    src_a.parent.mkdir()
    src_b.parent.mkdir()
    src_a.write_bytes(b'{"who": "first"}')
    src_b.write_bytes(b'{"who": "second"}')
    dest = str(tmp_path / "copies")

    copy_volumes(spark, str(src_a), dest).collect()
    rec_b = copy_volumes(spark, str(src_b), dest).collect()[0]
    # run 2's file is prefixed; run 1's survives byte-identical
    assert os.path.basename(rec_b["dest"]) != "vol.json"
    assert os.path.basename(rec_b["dest"]).endswith(".vol.json")
    with open(os.path.join(dest, "vol.json"), "rb") as f:
        assert f.read() == b'{"who": "first"}'
    with open(rec_b["dest"], "rb") as f:
        assert f.read() == b'{"who": "second"}'
    assert len(_dest_files(dest)) == 2
    # re-running run 2 is still idempotent (same src -> same prefixed name)
    rec_b2 = copy_volumes(spark, str(src_b), dest).collect()[0]
    assert rec_b2["dest"] == rec_b["dest"]
    assert len(_dest_files(dest)) == 2

    # foreign file with no provenance record: protected the same way
    foreign = tmp_path / "c" / "other.json"
    foreign.parent.mkdir()
    foreign.write_bytes(b'{"who": "third"}')
    with open(os.path.join(dest, "other.json"), "wb") as f:
        f.write(b"pre-existing, unmanaged")
    rec_c = copy_volumes(spark, str(foreign), dest).collect()[0]
    assert os.path.basename(rec_c["dest"]) != "other.json"
    with open(os.path.join(dest, "other.json"), "rb") as f:
        assert f.read() == b"pre-existing, unmanaged"


def test_duplicate_basenames_disambiguated(spark, tmp_path):
    """Two same-named source files in different dirs must not last-writer-
    win in the flat dest dir."""
    src = tmp_path / "src"
    (src / "a").mkdir(parents=True)
    (src / "b").mkdir()
    (src / "a" / "vol.json").write_bytes(b'{"htid": "a"}')
    (src / "b" / "vol.json").write_bytes(b'{"htid": "b"}')
    dest = str(tmp_path / "dst")
    rows = copy_volumes(spark, f"{src}/*/vol.json", dest).collect()
    assert len(rows) == 2
    assert len({r["dest"] for r in rows}) == 2
    for r in rows:
        with open(r["src"], "rb") as fs, open(r["dest"], "rb") as fd:
            assert fs.read() == fd.read()


def test_transcode_dest_collision_disambiguated(spark, tmp_path):
    """vol.json + vol.json.gz transcoded to gz both map to vol.json.gz —
    the collision check runs on DEST names, not source basenames."""
    import gzip

    src = tmp_path / "src"
    (src / "a").mkdir(parents=True)
    (src / "b").mkdir()
    (src / "a" / "vol.json").write_bytes(b'{"htid": "plain"}')
    (src / "b" / "vol.json.gz").write_bytes(gzip.compress(b'{"htid": "gz"}'))
    dest = str(tmp_path / "dst")
    rows = copy_volumes(spark, f"{src}/*/vol.json*", dest, compression="gz").collect()
    assert len(rows) == 2
    assert len({r["dest"] for r in rows}) == 2
    contents = set()
    for r in rows:
        with open(r["dest"], "rb") as f:
            contents.add(gzip.decompress(f.read()))
    assert contents == {b'{"htid": "plain"}', b'{"htid": "gz"}'}


def test_crash_window_heals_instead_of_duplicating(spark, tmp_path):
    """A file published by a run that crashed BEFORE its manifest shard
    landed (on disk, byte-identical, no provenance record) must be
    re-adopted under its plain name on the next run — not treated as
    foreign and hash-prefixed, which would mint a duplicate copy of the
    same volume on every retry."""
    src = tmp_path / "a" / "vol.json"
    src.parent.mkdir()
    src.write_bytes(b'{"who": "crashed"}')
    dest = str(tmp_path / "copies")
    os.makedirs(dest)
    # simulate the crash window: the copy landed, the manifest didn't
    with open(os.path.join(dest, "vol.json"), "wb") as f:
        f.write(b'{"who": "crashed"}')

    rec = copy_volumes(spark, str(src), dest).collect()[0]
    assert os.path.basename(rec["dest"]) == "vol.json"  # no prefix
    assert _dest_files(dest) == ["vol.json"]            # no duplicate
    # provenance healed: a different source now collides properly
    src2 = tmp_path / "b" / "vol.json"
    src2.parent.mkdir()
    src2.write_bytes(b'{"who": "other"}')
    rec2 = copy_volumes(spark, str(src2), dest).collect()[0]
    assert os.path.basename(rec2["dest"]).endswith(".vol.json")
    assert os.path.basename(rec2["dest"]) != "vol.json"


def test_recorded_source_keeps_plain_name_amid_new_collision(spark, tmp_path):
    """Re-copying recorded source A together with a NEW colliding source
    B must prefix only B: prefixing A too would leave A's content at both
    the plain name (prior run) and the prefixed name — a minted
    duplicate."""
    src_a = tmp_path / "srcs" / "a" / "vol.json"
    src_b = tmp_path / "srcs" / "b" / "vol.json"
    src_a.parent.mkdir(parents=True)
    src_b.parent.mkdir(parents=True)
    src_a.write_bytes(b'{"who": "first"}')
    src_b.write_bytes(b'{"who": "second"}')
    dest = str(tmp_path / "copies")

    copy_volumes(spark, str(src_a), dest).collect()
    # one run, BOTH sources (same basename): A recorded, B new
    recs = {r["src"]: os.path.basename(r["dest"]) for r in copy_volumes(
        spark, str(tmp_path / "srcs" / "*" / "vol.json"), dest).collect()}
    assert recs[str(src_a)] == "vol.json"          # A: plain, not prefixed
    assert recs[str(src_b)].endswith(".vol.json")  # B: hash-prefixed
    assert recs[str(src_b)] != "vol.json"
    with open(os.path.join(dest, "vol.json"), "rb") as f:
        assert f.read() == b'{"who": "first"}'
    assert len(_dest_files(dest)) == 2  # no duplicate of A's content
    # and the whole thing is idempotent on a third run
    copy_volumes(spark, str(tmp_path / "srcs" / "*" / "vol.json"), dest).collect()
    assert len(_dest_files(dest)) == 2
